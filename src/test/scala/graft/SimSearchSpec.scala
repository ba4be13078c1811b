package graft

import org.apache.spark.sql.functions._
import graft.sim.SimSearch

/** Similarity search over constructed vectors with known geometry. */
class SimSearchSpec extends SparkSpec {
  import spark.implicits._

  // 2-d toy vectors: 0 = east, 1 = near-east, 2 = north, 3 = west
  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f)),
    (2L, Array(0.0f, 1.0f)),
    (3L, Array(-1.0f, 0.0f)))
    .toDF("vec_id", "embedding").cache()

  test("cosine geometry: parallel 1, orthogonal 0, opposite -1") {
    def cos(a: Long, b: Long): Double =
      vecs.as("x").join(vecs.as("y"),
        col("x.vec_id") === a && col("y.vec_id") === b)
        .select(SimSearch.cosine(col("x.embedding"), col("y.embedding")))
        .head().getDouble(0)
    assert(math.abs(cos(0L, 0L) - 1.0) < 1e-12)
    assert(math.abs(cos(0L, 2L)) < 1e-12)
    assert(math.abs(cos(0L, 3L) + 1.0) < 1e-12)
  }

  test("fused native kernel is bit-identical to the HOF cosine") {
    val pairs = vecs.as("x").crossJoin(vecs.as("y"))
      .select(
        SimSearch.cosine(col("x.embedding"), col("y.embedding")).as("hof"),
        SimSearch.cosineFast(col("x.embedding"), col("y.embedding"))
          .as("fused"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      // exact equality: identical IEEE accumulation order by construction
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("brute-force top-k ranks by cosine desc with id tie-break") {
    val top = SimSearch.bruteForceTopK(vecs, "vec_id", "embedding",
      col("vec_id") === 0L, k = 3).collect()
    assert(top.map(_.getAs[Long]("neighbor")).toSeq == Seq(1L, 2L, 3L))
    assert(top.map(_.getAs[Int]("rank")).toSeq == Seq(0, 1, 2))
    val cs = top.map(_.getAs[Double]("cos_sim"))
    assert(cs.sameElements(cs.sorted.reverse))
  }

  test("two-phase topK matches a single-partition reference") {
    val many = spark.range(200).select(
      col("id"),
      lit("k").as("key"),
      (col("id") % 17).cast("double").as("score"))
    val got = SimSearch.topKPerKey(many, "key", -col("score"), col("id"), 5)
      .collect().map(r => r.getAs[Long]("neighbor"))
    // highest score 16 at ids 16, 33, 50, ... → ties by id ascending
    assert(got.toSeq == Seq(16L, 33L, 50L, 67L, 84L))
  }

  test("ANN: same-direction vectors share a bucket; recall on the obvious pair") {
    val top = SimSearch.annTopK(vecs, "vec_id", "embedding",
      col("vec_id") === 0L, k = 2, planes = 4, dim = 2).collect()
    // vector 1 (near-east) must land in vector 0's bucket and rank first
    assert(top.nonEmpty && top.head.getAs[Long]("neighbor") == 1L)
  }

  test("cosine near-dup pairs finds the near-parallel pair only") {
    val pairs = SimSearch.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, planes = 4, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("a malformed (ragged) vector never displaces real neighbors") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.5f)), // ragged → NULL cosine → dropped before ranking
      (3L, Seq(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val top = SimSearch.bruteForceTopK(emb, "vec_id", "embedding",
      col("vec_id") === 0L, k = 2).collect()
    assert(top.map(_.getAs[Long]("neighbor")).toSeq == Seq(1L, 3L))
    assert(top.forall(!_.isNullAt(3)))
  }

  test("hard negatives exclude the query's own label") {
    import spark.implicits._
    // east-ish vectors labeled 0 except id 1 (labeled 1): for query 0
    // the most similar DIFFERENT-label vector is 1, and same-label
    // near-duplicates are excluded no matter how similar
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.99f, 0.1f), 1),
      (2L, Seq(0.98f, 0.2f), 0), (3L, Seq(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val negs = SimSearch.hardNegatives(emb, "vec_id", "embedding", "label",
      col("vec_id") === 0L, k = 2).collect()
    assert(negs.map(_.getAs[Long]("neighbor")).toSeq == Seq(1L, 3L))
    assert(negs.head.getAs[Double]("cos_sim") > 0.9) // 1 is the HARD one
  }

  test("hardNegativesAnn: bucket-restricted flavor degenerates to " +
    "annTopK under distinct labels and never emits same-label rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val emb = (0 until 80).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1), i)
    }.toDF("vec_id", "embedding", "label")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // every label distinct → the label filter equals the self-pair
    // filter, so the ANN hard-negative search IS annTopK
    val ann = SimSearch.annTopK(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 3, planes = 4, probeBits = 2)
    val hn = SimSearch.hardNegativesAnn(emb, "vec_id", "embedding",
      "label", col("vec_id") < 10, k = 3, planes = 4, probeBits = 2)
    assert(rows(hn) == rows(ann) && rows(ann).nonEmpty)
    // clustered labels: no same-label neighbor may survive, and every
    // emitted cosine must agree with the exact brute-force pair score
    val clustered = emb.withColumn("label", pmod(col("vec_id"), lit(4)))
    val hn2 = SimSearch.hardNegativesAnn(clustered, "vec_id", "embedding",
      "label", col("vec_id") < 10, k = 3, planes = 4, probeBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val brute = SimSearch.hardNegatives(clustered, "vec_id", "embedding",
      "label", col("vec_id") < 10, k = 80)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(hn2.nonEmpty)
    hn2.foreach { case (qid, cid, cs) =>
      assert(qid % 4 != cid % 4) // different label, always
      assert(brute((qid, cid)) == cs) // exact cosine, not an estimate
    }
  }

  test("semDedup collapses within-cell near-parallel groups to min id") {
    import spark.implicits._
    // two tight directions far apart: {0,1,2} near-parallel (cos ~1),
    // {10,11} near-parallel on an orthogonal axis, 20 alone
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f, 0.01f)),
      (1L, Seq(0.99f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.01f, 0.0f)),
      (10L, Seq(0.0f, 1.0f, 0.0f)),
      (11L, Seq(0.01f, 0.99f, 0.0f)),
      (20L, Seq(0.0f, 0.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val kept = SimSearch.semDedup(rows, "vec_id", "embedding",
      k = 3, iters = 2, threshold = 0.9, dim = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 10L, 20L))
    // a LOW threshold still never pairs across cells: survivors are
    // one per connected component, and components respect cell blocks
    val keptLow = SimSearch.semDedup(rows, "vec_id", "embedding",
      k = 3, iters = 2, threshold = -1.0, dim = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(keptLow.size >= 1 && keptLow.size <= 3)
    assert(keptLow.forall(Set(0L, 1L, 2L, 10L, 11L, 20L)))
    // persisted-model flavor: parquet-roundtripped kmeansFit centroids
    // give the identical survivor set
    val path = tmpDir("semcen") + "/cen"
    SimSearch.kmeansFit(rows, "vec_id", "embedding", k = 3, iters = 2,
      dim = 3).write.mode("overwrite").parquet(path)
    val keptPersisted = SimSearch.semDedupWithCentroids(rows,
      spark.read.parquet(path), "vec_id", "embedding", threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(keptPersisted == kept)
  }

  test("semDedup hot-cell bound: a dominant cell sub-buckets by sign " +
    "bits; identical-vector dedup is unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // ONE k-means cell (k=1) holding everything — the skew shape the cap
    // exists for: 50 identical pairs (ids 2t/2t+1 share a vector) + 200
    // scattered singles
    val rows = (0 until 50).flatMap { t =>
      val v = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
      Seq((2L * t, v), (2L * t + 1, v))
    } ++ (0 until 200).map(i =>
      (1000L + i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val emb = rows.toDF("vec_id", "embedding")
    // threshold ≈ 1: only the identical pairs match, and identical
    // vectors share EVERY sign bit, so sub-bucketing cannot split them
    def kept(cap: Long) = SimSearch.semDedup(emb, "vec_id", "embedding",
      k = 1, iters = 1, threshold = 0.9999, dim = 8, cellCap = cap,
      subPlanes = 8)
      .select("vec_id").as[Long].collect().toSet
    val unbounded = kept(Long.MaxValue >> 1)
    val capped = kept(32L)
    val expected = (0 until 50).map(t => 2L * t).toSet ++
      (0 until 200).map(i => 1000L + i).toSet
    assert(unbounded == expected)
    assert(capped == expected, "hot-cell sub-bucketing changed survivors")
    // the blocking geometry really splits the 300-row cell: at cap=32
    // the cell gets ceil(log2(300/32)) = 4 sign bits → 16 sub-buckets;
    // random dim-8 directions spread across them, bounding the
    // per-bucket quadratic
    val groups = emb.select(
      SimSearch.simhashBucket(col("embedding"), 8, 8)
        .bitwiseAND(lit(15L)).as("s"))
      .groupBy("s").count().collect().map(_.getLong(1))
    assert(groups.length > 4, s"only ${groups.length} sub-buckets formed")
    assert(groups.max < 150,
      s"largest sub-bucket ${groups.max} of 300 — blocking did not split")
  }

  test("recallAtK: baseline against itself is 1.0; multi-probe raises " +
    "ANN recall") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = Seq.tabulate(400)(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val pred = col("vec_id") < 20
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding",
      pred, 10).localCheckpoint()
    val self = SimSearch.recallAtK(exact, exact, 10).collect()
    assert(self.length == 20)
    assert(self.forall(_.getAs[Double]("recall") == 1.0))
    assert(self.forall(_.getAs[Long]("n_exact") == 10L))
    def mean(probeBits: Int): Double = SimSearch.recallSummary(
      SimSearch.annTopK(emb, "vec_id", "embedding", pred, 10,
        planes = 8, dim = 16, probeBits = probeBits),
      exact, 10).head().getDouble(1)
    val r0 = mean(0)
    val r3 = mean(3)
    // 8 planes over 400 vectors: single-bucket probing misses true
    // neighbors across bucket boundaries; Hamming-1 probes recover some
    assert(r0 < 1.0, s"single-probe recall $r0 suspiciously perfect")
    assert(r3 > r0, s"multi-probe did not raise recall: $r0 -> $r3")
    // an empty approx side scores 0, never divides by zero
    val none = SimSearch.recallSummary(
      exact.filter(lit(false)), exact, 10).head()
    assert(none.getDouble(1) == 0.0)
    // the harness is searcher-agnostic: IVF results score the same way
    // (nprobe = all cells ⇒ exhaustive ⇒ recall 1.0 exactly)
    val labeled = emb.withColumn("label", col("vec_id") % 4)
    val ivfAll = SimSearch.ivfTopK(labeled, "vec_id", "embedding",
      "label", pred, k = 10, nprobe = 4)
    assert(SimSearch.recallSummary(ivfAll, exact, 10)
      .head().getDouble(1) == 1.0)
  }

  test("persisted ANN index: bucket-partitioned layout, results match " +
    "the inline flavor, scan prunes to probed buckets") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val emb = Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val path = tmpDir("annidx") + "/idx"
    SimSearch.writeAnnIndex(emb, path, "vec_id", "embedding",
      planes = 4, dim = 8)
    // Hive layout: one bucket=<id> partition directory per sign bucket
    // inside the live vectors generation
    val dirs = new java.io.File(s"$path/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("bucket=")))
    val idx = SimSearch.readAnnIndex(spark, path)
    // queries come from storage (as in a real deployment): a filter on
    // a LOCAL relation constant-folds away and dynamic partition
    // pruning then has no selective predicate to piggyback on
    val embPath = tmpDir("annemb") + "/emb"
    emb.write.parquet(embPath)
    val queries = spark.read.parquet(embPath).filter(col("vec_id") < 5)
    val fromIndex = SimSearch.annTopKFromIndex(idx, queries,
      "vec_id", "embedding", k = 3, planes = 4, dim = 8, probeBits = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val inline = SimSearch.annTopK(emb, "vec_id", "embedding",
      col("vec_id") < 5, k = 3, planes = 4, dim = 8, probeBits = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fromIndex == inline)
    // the index scan must be partition-prunable on the bucket join key
    // (dynamic partition pruning against the broadcast query buckets)
    val plan = SimSearch.annTopKFromIndex(idx, queries,
      "vec_id", "embedding", k = 3, planes = 4, dim = 8)
      .queryExecution.executedPlan.toString
    // dynamicpruning specifically: an inner equi-join ALWAYS pushes a
    // static isnotnull partition filter, so accepting that would make
    // this assertion vacuous
    assert(plan.contains("dynamicpruning"),
      s"bucket join lost dynamic partition pruning:\n$plan")
  }

  test("ann index lifecycle: append extends serving under the frozen " +
    "LSH params, tombstoned ids never surface from any probe, " +
    "compaction serves identically and reclaims batch state") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val emb = Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val path = tmpDir("annlife") + "/idx"
    SimSearch.writeAnnIndex(emb.filter(col("vec_id") < 120), path,
      "vec_id", "embedding", planes = 4, dim = 8)
    SimSearch.appendToAnnIndex(emb.filter(col("vec_id") >= 120), path,
      "vec_id", "embedding")
    // append validates against the persisted meta
    intercept[IllegalArgumentException] {
      SimSearch.appendToAnnIndex(emb, path, "vec_id", "vectors")
    }
    // an empty batch writes NO segment (a zero-row partitionBy dir
    // would brick later reads) and, outside a stream, is a pure no-op
    SimSearch.appendToAnnIndex(emb.filter(col("vec_id") < 0), path,
      "vec_id", "embedding")
    assert(SimSearch.readAnnIndex(spark, path).count() == 200L)
    val queries = emb.filter(col("vec_id") < 5)
    def serve(): Set[(Long, Int, Long)] =
      SimSearch.annTopKFromIndex(SimSearch.readAnnIndex(spark, path),
        queries, "vec_id", "embedding", k = 3, planes = 4, dim = 8,
        probeBits = 1)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSet
    // write+append serves exactly like one-shot over the union
    val inline = SimSearch.annTopK(emb, "vec_id", "embedding",
      col("vec_id") < 5, k = 3, planes = 4, dim = 8, probeBits = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(serve() == inline)
    // tombstone-delete: ids vanish from every probe, serving equals
    // one-shot over the survivors (ranks re-close over the gap)
    // keep the deleted set disjoint from the query ids (< 5): annTopK
    // over survivors draws its queries from the survivor frame
    val dead = (0L until 200L).filter(_ % 9 == 5)
    intercept[IllegalArgumentException] { // column name must match meta
      SimSearch.deleteFromAnnIndex(dead.toDF("id"), path)
    }
    SimSearch.deleteFromAnnIndex(dead.toDF("vec_id"), path)
    val tombstoned = serve()
    assert(!tombstoned.exists(t => dead.contains(t._3)))
    val survivors = emb.filter(!col("vec_id").isin(dead: _*))
    val overSurvivors = SimSearch.annTopK(survivors, "vec_id",
      "embedding", col("vec_id") < 5, k = 3, planes = 4, dim = 8,
      probeBits = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(tombstoned == overSurvivors)
    // double-delete is a no-op; compaction serves identically and
    // folds the batches into a fresh marker-committed generation
    SimSearch.deleteFromAnnIndex(dead.toDF("vec_id"), path)
    assert(serve() == tombstoned)
    SimSearch.compactAnnIndex(spark, path)
    assert(serve() == tombstoned)
    assert(SimSearch.readAnnIndex(spark, path).count() ==
      200L - dead.length)
    // gens: create=1, append=2, delete=3, no-op delete=4, compact=5
    assert(new java.io.File(s"$path/vectors_gen=5").isDirectory)
    assert(!new java.io.File(s"$path/vectors").exists())
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(!new java.io.File(s"$path/vectors_batches").exists())
    // a rebuild at the same path starts clean — no stale lifecycle
    SimSearch.writeAnnIndex(emb, path, "vec_id", "embedding",
      planes = 4, dim = 8)
    assert(SimSearch.readAnnIndex(spark, path).count() == 200L)
    assert(serve() == inline)
  }

  test("ann index retention window: superseded snapshots stay " +
    "readable (mid-scan readers survive compaction), listGenerations " +
    "tracks the window, GC honors retain") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val emb = Seq.tabulate(100)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val path = tmpDir("annretain") + "/idx"
    SimSearch.writeAnnIndex(emb, path, "vec_id", "embedding",
      planes = 4, dim = 8) // snapshot gen 1
    // delete with retain=2: the pre-delete snapshot stays readable
    SimSearch.deleteFromAnnIndex(
      (0L until 100L).filter(_ % 4 == 0).toDF("vec_id"), path,
      retain = 2) // snapshot gen 2
    assert(SimSearch.annMarker.listGenerations(spark, path) == Seq(1L, 2L))
    assert(SimSearch.readAnnIndex(spark, path, 1L).count() == 100L,
      "time-travel read of the pre-delete snapshot")
    assert(SimSearch.readAnnIndex(spark, path).count() == 75L)
    // THE LIVENESS CASE (round-12 finding): resolve a frame on the
    // CURRENT snapshot, compact with retain=2, the in-flight frame
    // must still complete (its files are inside the window)
    val midScan = SimSearch.readAnnIndex(spark, path) // resolves gen 2
    SimSearch.compactAnnIndex(spark, path, retain = 2) // gen 3
    assert(midScan.count() == 75L,
      "reader mid-scan on the superseded snapshot must survive " +
        "a retain=2 compaction")
    assert(SimSearch.annMarker.listGenerations(spark, path) == Seq(2L, 3L))
    assert(SimSearch.readAnnIndex(spark, path, 2L).count() == 75L)
    // aged out of the window: gen 1 is gone, fail-loud with the hint
    val err = intercept[IllegalArgumentException] {
      SimSearch.readAnnIndex(spark, path, 1L)
    }
    assert(err.getMessage.contains("retain"))
    // the window PERSISTS in the marker: a lifecycle op with the
    // DEFAULT retain keeps the 2-snapshot window previous callers
    // established (the old per-call minimum would have collapsed it)
    SimSearch.deleteFromAnnIndex(Seq(1L).toDF("vec_id"), path) // gen 4
    assert(SimSearch.annMarker.listGenerations(spark, path) == Seq(3L, 4L))
    assert(SimSearch.readAnnIndex(spark, path).count() == 74L)
    assert(SimSearch.readAnnIndex(spark, path, 3L).count() == 75L)
  }

  test("bitextMine: margin scoring demotes the hub target that raw " +
    "cosine would pick and recovers each source's true pair") {
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, v) => a(i) = v }
      a
    }
    // 4 sources: a distinct direction e_i plus a strong shared hub
    // component e_60; targets: the 4 true pairs (pure e_i) and a hub
    // (pure e_60). cos(src_i, hub)=0.9/|x| BEATS cos(src_i, y_i)=0.8/|x|
    // — raw cosine aligns everything to the hub; the margin divides by
    // the hub's saturated neighborhood and flips the choice.
    val src = (0 until 4).map(i =>
      (i * 2L, vec(i -> 0.8f, 60 -> 0.9f)))
      .toDF("vec_id", "embedding")
    val tgt = ((0 until 4).map(i => (i * 2L + 1L, vec(i -> 1.0f))) :+
      (9L, vec(60 -> 1.0f)))
      .toDF("vec_id", "embedding")
    // raw forward top-1 picks the hub for every source…
    val rawTop = graft.sim.SimSearch.bruteForceTopK(
      src.unionByName(tgt), "vec_id", "embedding",
      col("vec_id") % 2 === 0, k = 1).collect()
    assert(rawTop.length == 4 && rawTop.forall(_.getLong(2) == 9L),
      "test setup: hub must win on raw cosine")
    // …while the margin alignment recovers the true pairs
    val mined = graft.sim.SimSearch.bitextMine(src, tgt, "vec_id",
      "embedding", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mined == Map(0L -> 1L, 2L -> 3L, 4L -> 5L, 6L -> 7L),
      mined.toString)
    // thresholding drops weak alignments entirely
    val none = graft.sim.SimSearch.bitextMine(src, tgt, "vec_id",
      "embedding", k = 4, threshold = 1e9)
    assert(none.count() == 0)
  }

  test("int8 quantization: known vector and all-zero vector") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        SimSearch.maxAbs(col("embedding")).as("mx"))
      .select(col("vec_id"), col("mx"),
        SimSearch.quantizeInt8(col("embedding"), col("mx")).as("q"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getAs[scala.collection.Seq[Long]]("q").toSeq))
      .toMap
    // scale 1.0: 0.5→floor(63.5+0.5)=64, -1→floor(-126.5)=-127,
    // 0.25→floor(32.25)=32
    assert(df(1L) == ((1.0, Seq(64L, -127L, 32L))))
    assert(df(2L) == ((0.0, Seq(0L, 0L, 0L)))) // zero scale → zeros
  }

  test("groupDiversity: collapsed group scores mean_cos 1, orthogonal " +
    "group scores lower; zero vectors guard to 0") {
    import spark.implicits._
    val rows = Seq(
      // group 10: three identical vectors → mean_cos = 1
      (10L, 1L, Array(1f, 0f, 0f, 0f)), (10L, 2L, Array(1f, 0f, 0f, 0f)),
      (10L, 3L, Array(1f, 0f, 0f, 0f)),
      // group 20: two orthogonal vectors → cos to centroid = 1/sqrt(2)
      (20L, 4L, Array(2f, 0f, 0f, 0f)), (20L, 5L, Array(0f, 2f, 0f, 0f)),
      // group 30: only a zero vector → guarded cosine 0, norm 0
      (30L, 6L, Array(0f, 0f, 0f, 0f)))
      .toDF("label", "vec_id", "embedding")
    val got = SimSearch.groupDiversity(rows, "label", "vec_id",
      "embedding", dim = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("centroid_norm"),
          r.getAs[Double]("mean_cos"))).toMap
    assert(got(10L) === ((3L, 1.0, 1.0)))
    assert(got(20L)._1 === 2L)
    assert(math.abs(got(20L)._3 - 1.0 / math.sqrt(2)) < 1e-5)
    assert(got(30L) === ((1L, 0.0, 0.0)))
    assert(got(10L)._3 > got(20L)._3) // collapse ranks above diversity
  }

  test("groupEmbeddingDrift: stable group cos 1, rotated group lower, " +
    "one-sided groups report zero counts and NULL cosine") {
    import spark.implicits._
    val old = Seq(
      (10L, 1L, Array(1f, 0f, 0f, 0f)), (10L, 2L, Array(1f, 0f, 0f, 0f)),
      (20L, 3L, Array(0f, 2f, 0f, 0f)),
      (30L, 4L, Array(1f, 1f, 0f, 0f))) // removed in the new snapshot
      .toDF("label", "vec_id", "embedding")
    val next = Seq(
      (10L, 1L, Array(1f, 0f, 0f, 0f)),   // unchanged
      (20L, 3L, Array(2f, 0f, 0f, 0f)),   // rotated 90° → cos 0
      (40L, 5L, Array(0f, 0f, 1f, 0f)))   // brand-new group
      .toDF("label", "vec_id", "embedding")
    val got = SimSearch.groupEmbeddingDrift(old, next, "vec_id",
      "embedding", "label", dim = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(10L) == ((2L, 1L, Some(1.0))))
    assert(got(20L) == ((1L, 1L, Some(0.0))))
    assert(got(30L) == ((1L, 0L, None))) // removed group
    assert(got(40L) == ((0L, 1L, None))) // new group
  }

  test("semanticDecontaminate drops corpus rows near ANY eval vector, " +
    "keeps the rest, and is a no-op on an empty eval set") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)),      // identical to eval 100 → dropped
      (2L, Array(0.9f, 0.1f, 0f)),  // cos ~0.99 to eval 100 → dropped
      (3L, Array(0f, 1f, 0f)),      // orthogonal → kept
      (4L, Array(0f, 0f, 1f)))      // orthogonal → kept
      .toDF("vec_id", "embedding")
    val eval = Seq((100L, Array(1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val kept = SimSearch.semanticDecontaminate(
      corpus, eval, "vec_id", "embedding", threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 4L))
    val all = SimSearch.semanticDecontaminate(
      corpus, eval.limit(0), "vec_id", "embedding", threshold = 0.95)
      .count()
    assert(all === 4L)
  }

  /** The full-outer-join form of [[SimSearch.rrfFuse]] that the
    * one-aggregation form replaced, kept as its reference.
    */
  private def rrfByJoins(lists: Seq[org.apache.spark.sql.DataFrame],
      k: Int, c: Int = 60): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val contribs = lists.zipWithIndex.map { case (l, i) =>
      l.select(col("qid"), col("id"),
        (lit(1.0) / (lit(c.toDouble) + col("rank").cast("double")))
          .as(s"_c$i"))
    }
    val joined = contribs.reduce((a, b) =>
      a.join(b, Seq("qid", "id"), "full_outer"))
    val score = contribs.indices
      .map(i => coalesce(col(s"_c$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val w = Window.partitionBy("qid")
      .orderBy(col("rrf").desc, col("id"))
    joined.select(col("qid"), col("id"), round(score, 6).as("rrf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  test("rrfFuse: the one-aggregation fusion equals the full-outer-join " +
    "form for 2 and 3 lists, with overlapping and disjoint ids") {
    val a = Seq((1L, 100L, 1), (1L, 200L, 2), (1L, 300L, 3),
      (2L, 100L, 1), (2L, 500L, 2)).toDF("qid", "id", "rank")
    val b = Seq((1L, 200L, 1), (1L, 400L, 2), (2L, 600L, 1),
      (3L, 700L, 1)).toDF("qid", "id", "rank")
    val c = Seq((1L, 300L, 1), (1L, 100L, 2), (2L, 600L, 2),
      (3L, 800L, 1), (3L, 700L, 3)).toDF("qid", "id", "rank")
    val disjoint = Seq((1L, 900L, 1), (2L, 901L, 1), (4L, 902L, 5))
      .toDF("qid", "id", "rank")
    for (lists <- Seq(Seq(a, b), Seq(a, disjoint), Seq(a, b, c),
        Seq(a, disjoint, c)); k <- Seq(2, 10)) {
      val got = SimSearch.rrfFuse(lists, k)
      val want = rrfByJoins(lists, k)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)))
      assert(got.collect().toSet == want.collect().toSet,
        s"${lists.size} lists, k = $k")
    }
  }
}
