package graft

import org.apache.spark.sql.functions._
import graft.sim.SimSearch

/** IVF ANN over constructed clustered vectors with known cells. */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("ivfTopK searches only probed cells and ranks by cosine") {
    // two tight clusters in 64-d: cell 0 near e0, cell 1 near e1
    def vec(hot: Int, v: Float, noise: Float): Array[Float] = {
      val a = Array.fill(64)(noise)
      a(hot) = v
      a
    }
    val emb = Seq(
      (0L, vec(0, 10f, 0.1f), 0),
      (1L, vec(0, 9f, 0.2f), 0),
      (2L, vec(0, 8f, 0.3f), 0),
      (3L, vec(1, 10f, 0.1f), 1),
      (4L, vec(1, 9f, 0.2f), 1))
      .toDF("vec_id", "embedding", "label")

    val top = SimSearch.ivfTopK(emb, "vec_id", "embedding", "label",
      col("vec_id") === 0L, k = 2, nprobe = 1).collect()
    // nprobe=1 → only cell 0 searched; neighbors are 1 then 2, never 3/4
    assert(top.map(_.getAs[Long]("neighbor")).toSeq == Seq(1L, 2L))
    val cs = top.map(_.getAs[Double]("cos_sim"))
    assert(cs.forall(c => c > 0.9 && c <= 1.0))
  }

  test("kmeans: separated groups converge to their own clusters") {
    // group A hugs dimension 0, group B dimension 1; seeds (ids 0, 1)
    // land one per group, so Lloyd must keep the split and every vector
    // must sit closer to its own centroid than the zero-iteration seed
    def vec(hot: Int, v: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(hot) = v
      a
    }
    val emb = Seq(
      (0L, vec(0, 10f)), (1L, vec(1, 10f)), (2L, vec(0, 9f)),
      (3L, vec(1, 9f)), (4L, vec(0, 11f)), (5L, vec(1, 11f)))
      .toDF("vec_id", "embedding")
    val out = SimSearch.kmeansAssign(emb, "vec_id", "embedding",
      k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(Seq(0L, 2L, 4L).forall(out(_)._1 == 0L)) // dim-0 group
    assert(Seq(1L, 3L, 5L).forall(out(_)._1 == 1L)) // dim-1 group
    // converged centroid = group mean (10) → d2 for the 9/11 members is 1
    assert(out(2L)._2 == 1.0 && out(4L)._2 == 1.0)
    assert(out(0L)._2 == 0.0)
    // deterministic under re-run
    val again = SimSearch.kmeansAssign(emb, "vec_id", "embedding",
      k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(again == out)
  }

  test("persisted IVF centroids and k-means model reproduce the inline " +
    "results (train once, score many)") {
    val rnd = new scala.util.Random(23)
    val emb = (0 until 60).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1), i % 3)
    }.toDF("vec_id", "embedding", "label")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // IVF: write the centroid table, read it back, search — identical to
    // the inline-trained path
    val cpath = tmpDir("ivfcen") + "/cen"
    SimSearch.writeIvfCentroids(emb, cpath, "vec_id", "embedding", "label")
    val fromDisk = SimSearch.ivfTopKWithCentroids(emb,
      SimSearch.readIvfCentroids(spark, cpath),
      "vec_id", "embedding", "label", col("vec_id") < 5, k = 3)
    val inline = SimSearch.ivfTopK(emb, "vec_id", "embedding", "label",
      col("vec_id") < 5, k = 3)
    assert(rows(fromDisk) == rows(inline) && rows(inline).nonEmpty)
    // k-means: fit the model, persist, score — identical to kmeansAssign
    val mpath = tmpDir("kmmodel") + "/model"
    SimSearch.kmeansFit(emb, "vec_id", "embedding", k = 3, iters = 2)
      .write.parquet(mpath)
    def arows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scored = SimSearch.assignToCentroids(emb,
      spark.read.parquet(mpath), "vec_id", "embedding")
    val direct = SimSearch.kmeansAssign(emb, "vec_id", "embedding",
      k = 3, iters = 2)
    assert(arows(scored) == arows(direct) && arows(direct).size == 60)
  }

  test("meanVectors: bounded two-level fold pins to the single-level " +
    "reference and is partitioning-independent") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 4 - 2), i % 3)
    }
    val df = rows.toDF("id", "v", "cell")
    def bits(d: org.apache.spark.sql.DataFrame): Map[Int, Seq[Long]] =
      d.collect().map(r => r.getInt(0) ->
        r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits).toSeq)
        .toMap
    // the single-level id-ordered fold meanVectors replaced — kept here
    // as the executable semantics reference
    val ref = df.groupBy(col("cell"))
      .agg(
        aggregate(
          transform(sort_array(collect_list(struct(col("id").as("i"),
            col("v").as("v")))), _.getField("v")),
          array_repeat(lit(0.0), 8),
          (acc, v) => zip_with(acc, v, (a, x) => a + x.cast("double")))
          .as("vsum"),
        count(lit(1)).as("n"))
      .select(col("cell"), transform(col("vsum"), s => s / col("n"))
        .as("mean"))
    // bucketWidth > id range degenerates to one bucket → BIT-identical
    val degenerate = SimSearch.meanVectors(df, "cell", "id", "v", 8,
      bucketWidth = 512).select("cell", "mean")
    assert(bits(degenerate) == bits(ref))
    // multi-bucket chain: bit-stable under any partitioning, and equal
    // to the single-level mean within float-reassociation tolerance
    val multi = SimSearch.meanVectors(df, "cell", "id", "v", 8,
      bucketWidth = 64).select("cell", "mean")
    val multi7 = SimSearch.meanVectors(df.repartition(7), "cell", "id",
      "v", 8, bucketWidth = 64).select("cell", "mean")
    assert(bits(multi) == bits(multi7))
    val refVals = ref.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    multi.collect().foreach { r =>
      val exp = refVals(r.getInt(0))
      r.getSeq[Double](1).zip(exp).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9)
      }
    }
    // width must be a positive power of two
    intercept[IllegalArgumentException] {
      SimSearch.meanVectors(df, "cell", "id", "v", 8, bucketWidth = 100)
    }
  }

  test("meanVectors: one dominant cell aggregates in bounded buckets") {
    // 95% of ids land in cell 0 — the 100 TB skew shape. With W=32 the
    // dominant cell folds through ~10 bounded buckets, and the result
    // is still the exact deterministic mean.
    val rows = (0 until 320).map { i =>
      val cell = if (i % 20 == 19) 1 else 0
      (i.toLong, Array.fill(4)(i.toFloat), cell)
    }
    val df = rows.toDF("id", "v", "cell").repartition(5)
    val out = SimSearch.meanVectors(df, "cell", "id", "v", 4,
      bucketWidth = 32)
      .collect().map(r => r.getInt(0) ->
        ((r.getSeq[Double](1), r.getLong(2)))).toMap
    val hot = rows.filter(_._3 == 0).map(_._1.toDouble)
    assert(out(0)._2 == hot.size && out(0)._2 == 304L)
    assert(math.abs(out(0)._1.head - hot.sum / hot.size) < 1e-9)
    assert(out(1)._2 == 16L)
  }

  test("dist2 kernel is bit-identical to the HOF fold (float and double)") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 20 - 10),
        Array.fill(64)(rnd.nextDouble() * 20 - 10))
    }
    val df = rows.toDF("id", "fv", "dv")
    val both = df.select(
      SimSearch.dist2(col("fv"), col("dv")).as("hof"),
      SimSearch.dist2Fast(col("fv"), col("dv")).as("kernel"),
      SimSearch.dist2(col("dv"), col("fv")).as("hof_rev"),
      SimSearch.dist2Fast(col("dv"), col("fv")).as("kernel_rev"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
    // HOF null semantics preserved: ragged lengths and null elements
    // yield NULL on both paths (zip_with pads/nulls the fold)
    val edge = Seq(
      (Seq(1.0), Seq(1.0, 2.0)),
      (Seq(1.0, Double.NaN), Seq(1.0, 2.0)))
      .toDF("a", "b")
      .select(SimSearch.dist2(col("a"), col("b")).as("hof"),
        SimSearch.dist2Fast(col("a"), col("b")).as("kernel"))
      .collect()
    assert(edge(0).isNullAt(0) && edge(0).isNullAt(1)) // ragged → null
    val nullElem = spark.sql(
      "SELECT graft_dist2(array(1.0D, CAST(NULL AS DOUBLE)), " +
        "array(1.0D, 2.0D)) AS d").head()
    assert(nullElem.isNullAt(0))
  }

  test("pq: subspace codebooks quantize independently and ADC retrieves " +
    "from codes alone") {
    // four planted groups on the corners of (dim0, dim32): the two
    // subspaces [0,32) and [32,64) each see exactly two value levels,
    // so k=2 codebooks per subspace reconstruct the corpus perfectly
    // and ADC distances equal exact distances
    def vec(d0: Float, d32: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = d0
      a(32) = d32
      a
    }
    val emb = (0L until 16L).map { i =>
      (i, vec(if (i % 2 == 0) 10f else -10f,
        if ((i / 2) % 2 == 0) 10f else -10f))
    }.toDF("vec_id", "embedding")
    val cb = SimSearch.pqFit(emb, "vec_id", "embedding",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    assert(cb.count() == 4) // m*k codebook rows
    val codes = SimSearch.pqEncode(emb, cb, "vec_id", "embedding",
      m = 2, dim = 64)
    val byId = codes.collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(byId.size == 32) // one code per (vector, subspace)
    // perfect planted structure → zero reconstruction error everywhere
    assert(byId.values.forall(_._2 == 0.0))
    // same planted level → same code; different level → different code
    assert(byId((0L, 0))._1 == byId((2L, 0))._1)
    assert(byId((0L, 0))._1 != byId((1L, 0))._1)
    assert(byId((0L, 1))._1 == byId((1L, 1))._1)
    assert(byId((0L, 1))._1 != byId((2L, 1))._1)
    // ADC from codes alone: each query's top hit group-matches it, at
    // distance 0, and every same-group member precedes any cross-group
    val queries = emb.filter(col("vec_id") < 4)
    val top = SimSearch.pqAdcTopK(codes, cb, queries,
      "vec_id", "embedding", "vec_id", m = 2, k = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    (0L until 4L).foreach { q =>
      (0 until 4).foreach { rk =>
        val (hit, d) = top((q, rk))
        assert(d == 0.0, s"query $q rank $rk: adc_d2 $d")
        assert(hit % 4 == q % 4, s"query $q rank $rk hit $hit")
      }
    }
    // determinism under re-run (fit + encode are pure functions)
    val again = SimSearch.pqEncode(emb,
      SimSearch.pqFit(emb, "vec_id", "embedding", m = 2, k = 2,
        iters = 2, dim = 64, bucketWidth = 4L),
      "vec_id", "embedding", m = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(again == byId)
  }

  test("ivfPqTopK: cell probe prunes candidates, ADC ranks them from " +
    "codes alone") {
    def vec(d0: Float, d32: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = d0
      a(32) = d32
      a
    }
    // same four planted corners; cell = the planted group id
    val emb = (0L until 16L).map { i =>
      (i, i % 4, vec(if (i % 2 == 0) 10f else -10f,
        if ((i / 2) % 2 == 0) 10f else -10f))
    }.toDF("vec_id", "cell", "embedding")
    val cb = SimSearch.pqFit(emb, "vec_id", "embedding",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    val codes = SimSearch.pqEncode(emb, cb, "vec_id", "embedding",
      m = 2, dim = 64)
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val centroids = SimSearch.ivfCentroids(emb, "vec_id", "embedding",
      "cell", dim = 64, bucketWidth = 4L)
    val queries = emb.filter(col("vec_id") < 4)
    val top = SimSearch.ivfPqTopK(codes, cb, centroids, queries,
      "vec_id", "embedding", "vec_id", m = 2, k = 16, nprobe = 1,
      dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // nprobe=1 → ONLY the query's own cell is searched: each query
    // returns exactly its 4 group members (candidate pruning), every
    // hit at ADC distance 0 (perfect planted reconstruction)
    assert(top.size == 16, s"expected 4 queries x 4 candidates: $top")
    (0L until 4L).foreach { q =>
      val hits = (0 until 4).map(rk => top((q, rk)))
      assert(hits.forall(_._2 == 0.0))
      assert(hits.map(_._1).toSet == (0L until 16L)
        .filter(_ % 4 == q % 4).toSet)
    }
  }

  test("rerankExact: exact re-rank recovers the recall pure ADC " +
    "loses to quantization") {
    // 24 vectors fanning across the first-subspace unit circle: a
    // 2-centroid codebook collapses each arc to ONE code, so every
    // same-code candidate shares the same ADC distance and ADC can
    // only order them by id — the true (angle-adjacent) neighbors are
    // unrecoverable from codes alone. Exact re-rank over the ADC
    // candidate pool restores them.
    def vec(theta: Double): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = math.cos(theta).toFloat
      a(1) = math.sin(theta).toFloat
      a(32) = 1.0f
      a
    }
    val emb = (0L until 24L).map(i => (i, 0L, vec(i * 0.12)))
      .toDF("vec_id", "cell", "embedding")
    val cb = SimSearch.pqFit(emb, "vec_id", "embedding",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    val codes = SimSearch.pqEncode(emb, cb, "vec_id", "embedding",
      m = 2, dim = 64)
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val centroids = SimSearch.ivfCentroids(emb, "vec_id", "embedding",
      "cell", dim = 64, bucketWidth = 4L)
    val queries = emb.filter(col("vec_id") % 7 === 0)
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding",
      col("vec_id") % 7 === 0, k = 5)
    // k = 6 and a self-drop on the approx sides: ADC/refined include
    // the query itself (rank 0, distance 0) while brute force excludes
    // it, so both approx flavors give up the same slot symmetrically
    val adc = SimSearch.ivfPqTopK(codes, cb, centroids, queries,
      "vec_id", "embedding", "vec_id", m = 2, k = 6, nprobe = 1,
      dim = 64).filter(col("qid") =!= col("neighbor"))
    val refined = SimSearch.rerankExact(SimSearch.ivfPqTopK(codes, cb,
      centroids, queries, "vec_id", "embedding", "vec_id", m = 2,
      k = 24, nprobe = 1, dim = 64), queries, emb, "vec_id",
      "embedding", "vec_id", k = 6)
      .filter(col("qid") =!= col("neighbor"))
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      SimSearch.recallSummary(df, exact, 6).head()
        .getAs[Double]("mean_recall")
    val (mAdc, mRef) = (mean(adc), mean(refined))
    assert(mRef > mAdc,
      s"re-rank did not lift recall: adc=$mAdc refined=$mRef")
    // with the candidate pool covering the whole cell, exact re-rank
    // IS brute force over the cell — recall must be perfect
    assert(mRef == 1.0, s"refined recall $mRef != 1.0")
  }

  test("residual PQ codes (true IVFADC) lift ADC recall over " +
    "raw-vector codes at equal m/k on the gate embeddings") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("cell", col("label"))
    val cen = SimSearch.ivfCentroids(emb, "vec_id", "embedding", "cell",
      dim = 64, bucketWidth = 128L)
    val (m, k, iters) = (2, 4, 2)
    val cbRaw = SimSearch.pqFit(emb, "vec_id", "embedding",
      m, k, iters, dim = 64, bucketWidth = 128L)
    val codesRaw = SimSearch.pqEncode(emb, cbRaw, "vec_id", "embedding",
      m, dim = 64)
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val res = SimSearch.PqFrame.Residual(cen)
    val cbRes = SimSearch.pqFit(emb, "vec_id", "embedding", m, k, iters,
      dim = 64, bucketWidth = 128L, frame = res)
    val codesRes = SimSearch.pqEncode(emb, cbRes, "vec_id", "embedding",
      m, dim = 64, frame = res)
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val pred = col("vec_id") < 30
    val queries = emb.filter(pred)
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding",
      pred, k = 10)
    // k+1 and a self-drop on the approx sides: ADC includes the query
    // itself (residual distance 0), brute force excludes it
    def recall(adc: org.apache.spark.sql.DataFrame): Double =
      SimSearch.recallSummary(
        adc.filter(col("qid") =!= col("neighbor")), exact, 10)
        .head().getAs[Double]("mean_recall")
    val rRaw = recall(SimSearch.ivfPqTopK(codesRaw, cbRaw, cen,
      queries, "vec_id", "embedding", "vec_id", m, k = 11, nprobe = 2,
      dim = 64))
    val rRes = recall(SimSearch.ivfPqTopK(codesRes, cbRes, cen,
      queries, "vec_id", "embedding", "vec_id", m, k = 11, nprobe = 2,
      dim = 64, frame = res))
    assert(rRes > rRaw,
      s"residual codes did not lift recall: raw=$rRaw residual=$rRes")
  }

  test("OPQ energy-balancing rotation lifts residual ADC recall at " +
    "equal m/k on the gate embeddings, and the permutation is a " +
    "valid orthogonal transform (a true permutation of 1..dim)") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("cell", col("label"))
    val cen = SimSearch.ivfCentroids(emb, "vec_id", "embedding", "cell",
      dim = 64, bucketWidth = 128L)
    val (m, k, iters) = (4, 4, 2)
    val pred = col("vec_id") < 30
    val queries = emb.filter(pred)
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding",
      pred, k = 10)
    def recall(adc: org.apache.spark.sql.DataFrame): Double =
      SimSearch.recallSummary(
        adc.filter(col("qid") =!= col("neighbor")), exact, 10)
        .head().getAs[Double]("mean_recall")
    val res = SimSearch.PqFrame.Residual(cen)
    val cbRes = SimSearch.pqFit(emb, "vec_id", "embedding", m, k, iters,
      dim = 64, bucketWidth = 128L, frame = res)
    val codesRes = SimSearch.pqEncode(emb, cbRes, "vec_id", "embedding",
      m, dim = 64, frame = res)
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val rRes = recall(SimSearch.ivfPqTopK(codesRes, cbRes, cen,
      queries, "vec_id", "embedding", "vec_id", m, k = 11, nprobe = 2,
      dim = 64, frame = res))
    val perm = SimSearch.opqPermutation(emb, cen, "vec_id", "embedding",
      "cell", m, dim = 64).localCheckpoint()
    // orthogonality: the learned transform is a permutation of 1..64
    val pvec = perm.head().getSeq[Int](0)
    assert(pvec.sorted == (1 to 64).toSeq, pvec)
    val opq = SimSearch.PqFrame.Permuted(cen, perm)
    val cbRot = SimSearch.pqFit(emb, "vec_id", "embedding", m, k, iters,
      dim = 64, bucketWidth = 128L, frame = opq)
    val codesRot = SimSearch.pqEncode(emb, cbRot, "vec_id", "embedding",
      m, dim = 64, frame = opq)
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val rRot = recall(SimSearch.ivfPqTopK(codesRot, cbRot, cen,
      queries, "vec_id", "embedding", "vec_id", m, k = 11, nprobe = 2,
      dim = 64, frame = opq))
    // measured on this data: 0.05 -> 0.12 at m=4/k=4 (and >= at m=2)
    assert(rRot > rRes,
      s"OPQ rotation did not lift recall: residual=$rRes rotated=$rRot")
    // energy balance: the permuted split spreads milli-energy across
    // subspaces at least as evenly as the contiguous split
    val en = SimSearch.ivfResiduals(emb, cen, "vec_id", "embedding",
      "cell")
      .select(posexplode(org.apache.spark.sql.functions.transform(
        col("_rv"), x => round(x * lit(1000.0)).cast("long")))
        .as(Seq("_pos", "_mv")))
      .groupBy(col("_pos")).agg(sum(col("_mv") * col("_mv")).as("_e"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sw = 64 / m
    def spread(assign: Int => Int): Long = {
      val sums = (0 until 64).groupBy(assign)
        .map { case (_, ds) => ds.map(en(_)).sum }
      sums.max - sums.min
    }
    val contiguous = spread(_ / sw)
    val rotated = spread(d => (pvec.indexWhere(_ == d + 1)) / sw)
    assert(rotated <= contiguous,
      s"serpentine deal did not balance energy: $rotated > $contiguous")
  }

  test("DENSE OPQ (PCA seed + Procrustes alternations) is orthogonal " +
    "and beats the permutation tier on BOTH distortion and recall at " +
    "equal m/k on the gate embeddings") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("cell", col("label")).persist()
    val cen = SimSearch.ivfCentroids(emb, "vec_id", "embedding", "cell",
      dim = 64, bucketWidth = 128L).localCheckpoint()
    val (m, k, iters) = (4, 4, 2)
    // 100 queries: recall at this SF is a noisy statistic — measured
    // (OpqProbe5): res 0.061 / perm 0.088 / dense(alt=2) 0.099
    val pred = col("vec_id") < 100
    val queries = emb.filter(pred)
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding",
      pred, k = 10).localCheckpoint()
    def recall(adc: org.apache.spark.sql.DataFrame): Double =
      SimSearch.recallSummary(
        adc.filter(col("qid") =!= col("neighbor")), exact, 10)
        .head().getAs[Double]("mean_recall")
    // permutation tier at the same m/k (the hash-gated flavor)
    val perm = SimSearch.opqPermutation(emb, cen, "vec_id", "embedding",
      "cell", m, dim = 64).localCheckpoint()
    val permuted = SimSearch.PqFrame.Permuted(cen, perm)
    val cbP = SimSearch.pqFit(emb, "vec_id", "embedding", m, k, iters,
      dim = 64, bucketWidth = 128L, frame = permuted).localCheckpoint()
    val encP = SimSearch.pqEncode(emb, cbP, "vec_id", "embedding", m,
      dim = 64, frame = permuted)
    val dPerm = encP.agg(sum(col("d2"))).head().getDouble(0)
    val codesP = encP
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val rPerm = recall(SimSearch.ivfPqTopK(codesP, cbP, cen, queries,
      "vec_id", "embedding", "vec_id", m, k = 11, nprobe = 2, dim = 64,
      frame = permuted))
    // dense tier: the MATCHED (rotation, codebooks) pair the
    // alternations trained jointly
    val (rot0, cbD0) = SimSearch.opqDenseFit(emb, cen, "vec_id",
      "embedding", "cell", m, dim = 64, alternations = 2, k = k,
      iters = iters, bucketWidth = 128L)
    val rot = rot0.localCheckpoint()
    val cbD = cbD0.localCheckpoint()
    // orthogonality: R·Rᵀ = I to float tolerance (rows orthonormal)
    val rflat = rot.head().getSeq[Double](0)
    val R = Array.tabulate(64, 64)((i, j) => rflat(i * 64 + j))
    for (i <- 0 until 64; j <- i until 64) {
      val dotv = (0 until 64).map(t => R(i)(t) * R(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dotv - want) < 1e-6, s"RRt[$i][$j]=$dotv")
    }
    val dense = SimSearch.PqFrame.Rotated(cen, rot)
    val encD = SimSearch.pqEncode(emb, cbD, "vec_id", "embedding", m,
      dim = 64, frame = dense)
    val dDense = encD.agg(sum(col("d2"))).head().getDouble(0)
    val codesD = encD
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val rDense = recall(SimSearch.ivfPqTopK(codesD, cbD, cen, queries,
      "vec_id", "embedding", "vec_id", m, k = 11, nprobe = 2, dim = 64,
      frame = dense))
    // the direct OPQ objective: quantization distortion strictly lower
    assert(dDense < dPerm,
      s"dense rotation did not lower distortion: $dDense >= $dPerm")
    assert(rDense >= rPerm,
      s"dense rotation lost to the permutation: dense=$rDense perm=$rPerm")
    // and the refined serve path returns k rows per query
    val five = queries.limit(5)
    val refined = SimSearch.rerankExact(SimSearch.ivfPqTopK(codesD, cbD,
      cen, five, "vec_id", "embedding", "vec_id", m, k = 20, nprobe = 2,
      dim = 64, frame = dense), five, emb, "vec_id", "embedding",
      "vec_id", k = 5)
    assert(refined.groupBy("qid").count().collect()
      .forall(_.getLong(1) == 5L))
    emb.unpersist()
  }

  test("matryoshkaRecall: the full-dim tier is exactly 1.0 per query; " +
    "mean recall does not increase as dimensions drop") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = SimSearch.matryoshkaRecall(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 5, dims = Seq(8, 32, 64)).collect()
    val full = got.filter(_.getInt(0) == 64)
    assert(full.nonEmpty && full.forall(_.getDouble(4) == 1.0),
      full.mkString(";"))
    def mean(d: Int): Double = {
      val rows = got.filter(_.getInt(0) == d)
      rows.map(_.getDouble(4)).sum / rows.length
    }
    assert(mean(8) <= mean(32) && mean(32) <= mean(64),
      (mean(8), mean(32), mean(64)))
  }

  test("persisted residual PQ index reproduces the inline residual " +
    "chain and carries the residual marker") {
    def vec(d0: Float, d32: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = d0
      a(32) = d32
      a
    }
    val emb = (0L until 16L).map { i =>
      (i, i % 4, vec(if (i % 2 == 0) 10f else -10f,
        (i % 8).toFloat - 3.5f))
    }.toDF("vec_id", "cell", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("pqidxres").toString
    SimSearch.writePqIndex(emb, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L,
      flavor = "residual")
    val SimSearch.PqIndex(cb, codes, centroids, frame) =
      SimSearch.readPqIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/residual")
      .head().getBoolean(0), "residual marker missing")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val queries = emb.filter(col("vec_id") < 4)
    val fromIndex = canon(SimSearch.ivfPqTopK(codes, cb, centroids,
      queries, "vec_id", "embedding", "vec_id", m = 2, k = 4,
      nprobe = 1, dim = 64, frame = frame))
    val cen = SimSearch.ivfCentroids(emb, "vec_id", "embedding", "cell",
      dim = 64, bucketWidth = 4L)
    val res = SimSearch.PqFrame.Residual(cen)
    val inlineCb = SimSearch.pqFit(emb, "vec_id", "embedding", m = 2,
      k = 2, iters = 2, dim = 64, bucketWidth = 4L, frame = res)
    val inline = canon(SimSearch.ivfPqTopK(
      SimSearch.pqEncode(emb, inlineCb, "vec_id", "embedding", m = 2,
        dim = 64, frame = res)
        .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id")),
      inlineCb, cen, queries, "vec_id", "embedding", "vec_id", m = 2,
      k = 4, nprobe = 1, dim = 64, frame = res))
    assert(fromIndex == inline)
  }

  test("persisted OPQ-rotated index reproduces the inline rotated " +
    "chain; the perm directory is the rotation marker") {
    def vec(d0: Float, d32: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = d0
      a(32) = d32
      a
    }
    val emb = (0L until 16L).map { i =>
      (i, i % 4, vec(if (i % 2 == 0) 10f else -10f,
        (i % 8).toFloat - 3.5f))
    }.toDF("vec_id", "cell", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("pqidxopq").toString
    SimSearch.writePqIndex(emb, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L,
      flavor = "opq")
    val SimSearch.PqIndex(cb, codes, centroids, frame) =
      SimSearch.readPqIndex(spark, dir)
    val perm = permOf(frame)
    assert(perm.nonEmpty, "perm marker directory missing")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val queries = emb.filter(col("vec_id") < 4)
    val fromIndex = canon(SimSearch.ivfPqTopK(codes, cb, centroids,
      queries, "vec_id", "embedding", "vec_id", m = 2, k = 4,
      nprobe = 1, dim = 64, frame = SimSearch.PqFrame.Permuted(centroids,
        perm.get)))
    val cen = SimSearch.ivfCentroids(emb, "vec_id", "embedding", "cell",
      dim = 64, bucketWidth = 4L)
    val inlinePerm = SimSearch.opqPermutation(emb, cen, "vec_id",
      "embedding", "cell", m = 2, dim = 64).localCheckpoint()
    val inlineFrame = SimSearch.PqFrame.Permuted(cen, inlinePerm)
    val inlineCb = SimSearch.pqFit(emb, "vec_id", "embedding", m = 2,
      k = 2, iters = 2, dim = 64, bucketWidth = 4L, frame = inlineFrame)
    val inline = canon(SimSearch.ivfPqTopK(
      SimSearch.pqEncode(emb, inlineCb, "vec_id", "embedding", m = 2,
        dim = 64, frame = inlineFrame)
        .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id")),
      inlineCb, cen, queries, "vec_id", "embedding", "vec_id", m = 2,
      k = 4, nprobe = 1, dim = 64, frame = inlineFrame))
    assert(fromIndex == inline)
    // an unrotated index has no perm marker
    val dir2 = java.nio.file.Files
      .createTempDirectory("pqidxnoperm").toString
    SimSearch.writePqIndex(emb, dir2, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L,
      flavor = "residual")
    assert(permOf(SimSearch.readPqIndex(spark, dir2).frame).isEmpty)
    // appends to a rotated index encode through the frozen
    // permutation: appended vectors must score identically to the
    // same vectors encoded at build time
    val dir3 = java.nio.file.Files
      .createTempDirectory("pqidxopqapp").toString
    SimSearch.writePqIndex(
      emb.filter(col("vec_id") < 12), dir3, "vec_id", "embedding",
      "cell", m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L,
      flavor = "opq")
    SimSearch.appendToPqIndex(emb.filter(col("vec_id") >= 12)
      .drop("cell"), dir3, "vec_id", "embedding", m = 2, dim = 64)
    val SimSearch.PqIndex(cb3, codes3, cen3, frame3) =
      SimSearch.readPqIndex(spark, dir3)
    val perm3 = permOf(frame3).get
    val appended = codes3.filter(col("vec_id") >= 12)
      .select("vec_id", "sub", "code")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    // re-encode the same vectors inline against the frozen model:
    // cells come from the probe metric, exactly as append assigns them
    val reassigned = emb.filter(col("vec_id") >= 12).drop("cell")
      .join(SimSearch.assignIvfCells(
        emb.filter(col("vec_id") >= 12), cen3, "vec_id", "embedding"),
        Seq("vec_id"))
    val inline3 = SimSearch.pqEncode(reassigned, cb3, "vec_id",
      "embedding", m = 2, dim = 64,
      frame = SimSearch.PqFrame.Permuted(cen3, perm3))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(appended == inline3,
      s"append bypassed the rotation: $appended vs $inline3")
  }

  test("persisted DENSE-OPQ index: rot marker detected, serving " +
    "matches the matched-pair inline chain, appends encode through " +
    "the frozen rotation, rebuilds clear stale flavor markers") {
    def vec(d0: Float, d32: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = d0
      a(32) = d32
      a
    }
    val emb = (0L until 16L).map { i =>
      (i, i % 4, vec(if (i % 2 == 0) 10f else -10f,
        (i % 8).toFloat - 3.5f))
    }.toDF("vec_id", "cell", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("pqidxdense").toString
    SimSearch.writePqIndex(emb, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L,
      flavor = "opq-dense", alternations = 1)
    val SimSearch.PqIndex(cb, codes, centroids, frame) =
      SimSearch.readPqIndex(spark, dir)
    val rot = rotOf(frame)
    assert(rot.nonEmpty, "rot marker directory missing")
    assert(!new java.io.File(s"$dir/perm").exists())
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val queries = emb.filter(col("vec_id") < 4)
    val fromIndex = canon(SimSearch.ivfPqTopK(codes, cb, centroids,
      queries, "vec_id", "embedding", "vec_id", m = 2, k = 4,
      nprobe = 1, dim = 64, frame = SimSearch.PqFrame.Rotated(centroids,
        rot.get)))
    // inline: the same matched (rot, cb) pair — opqDenseFit is
    // deterministic, so re-fitting reproduces the persisted model
    val cen = SimSearch.ivfCentroids(emb, "vec_id", "embedding",
      "cell", dim = 64, bucketWidth = 4L).localCheckpoint()
    val (rotI0, cbI0) = SimSearch.opqDenseFit(emb, cen, "vec_id",
      "embedding", "cell", m = 2, dim = 64, alternations = 1, k = 2,
      iters = 2, bucketWidth = 4L)
    val rotI = rotI0.localCheckpoint()
    val cbI = cbI0.localCheckpoint()
    val inlineFrame = SimSearch.PqFrame.Rotated(cen, rotI)
    val inline = canon(SimSearch.ivfPqTopK(
      SimSearch.pqEncode(emb, cbI, "vec_id", "embedding", m = 2,
        dim = 64, frame = inlineFrame)
        .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id")),
      cbI, cen, queries, "vec_id", "embedding", "vec_id", m = 2, k = 4,
      nprobe = 1, dim = 64, frame = inlineFrame))
    assert(fromIndex == inline)
    // appends on a dense index encode through the frozen rotation
    val dir2 = java.nio.file.Files
      .createTempDirectory("pqidxdenseapp").toString
    SimSearch.writePqIndex(
      emb.filter(col("vec_id") < 12), dir2, "vec_id", "embedding",
      "cell", m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L,
      flavor = "opq-dense", alternations = 1)
    SimSearch.appendToPqIndex(emb.filter(col("vec_id") >= 12)
      .drop("cell"), dir2, "vec_id", "embedding", m = 2, dim = 64)
    val SimSearch.PqIndex(cb2, codes2, cen2, frame2) =
      SimSearch.readPqIndex(spark, dir2)
    val rot2 = rotOf(frame2).get
    val appended = codes2.filter(col("vec_id") >= 12)
      .select("vec_id", "sub", "code")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val reassigned = emb.filter(col("vec_id") >= 12).drop("cell")
      .join(SimSearch.assignIvfCells(
        emb.filter(col("vec_id") >= 12), cen2, "vec_id", "embedding"),
        Seq("vec_id"))
    val inline2 = SimSearch.pqEncode(reassigned, cb2, "vec_id",
      "embedding", m = 2, dim = 64,
      frame = SimSearch.PqFrame.Rotated(cen2, rot2))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(appended == inline2,
      s"append bypassed the dense rotation: $appended vs $inline2")
    // a rebuild as a PLAIN index clears the stale rot marker
    SimSearch.writePqIndex(emb, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    assert(rotOf(SimSearch.readPqIndex(spark, dir).frame).isEmpty,
      "stale rot marker survived a plain rebuild")
    assert(SimSearch.readPqIndex(spark, dir).frame == SimSearch.PqFrame.Raw,
      "stale residual marker survived a plain rebuild")
  }

  test("appendToPqIndex: new vectors encode against the FROZEN " +
    "codebooks into their probe cells, replays are idempotent, and " +
    "serving matches a from-scratch encode under the same model") {
    def vec(d0: Float, d32: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = d0
      a(32) = d32
      a
    }
    val all = (0L until 16L).map { i =>
      (i, i % 4, vec(if (i % 2 == 0) 10f else -10f,
        (i % 8).toFloat - 3.5f))
    }.toDF("vec_id", "cell", "embedding")
    val base = all.filter(col("vec_id") < 12)
    val extra = all.filter(col("vec_id") >= 12).drop("cell")
    val dir = java.nio.file.Files
      .createTempDirectory("pqappend").toString
    SimSearch.writePqIndex(base, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    SimSearch.appendToPqIndex(extra, dir, "vec_id", "embedding",
      m = 2, dim = 64)
    // at-least-once replay: already-indexed ids anti-join away
    SimSearch.appendToPqIndex(extra, dir, "vec_id", "embedding",
      m = 2, dim = 64)
    val SimSearch.PqIndex(cb, codes, cen, _) =
      SimSearch.readPqIndex(spark, dir)
    assert(codes.count() == 32, "16 vectors x m=2 codes expected")
    assert(codes.select("vec_id").distinct().count() == 16)
    // appended rows live in the cell the serving probe would search
    val assigned = SimSearch.assignIvfCells(extra, cen, "vec_id",
      "embedding").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the cell partition column reads back as int32 — cast to compare
    val inIndex = codes.filter(col("vec_id") >= 12)
      .select(col("vec_id"), col("cell").cast("long")).distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inIndex == assigned, s"$inIndex != $assigned")
    // serving parity vs a from-scratch encode under the SAME model
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val queries = all.filter(col("vec_id") < 4)
    val fromIndex = canon(SimSearch.ivfPqTopK(codes, cb, cen, queries,
      "vec_id", "embedding", "vec_id", m = 2, k = 4, nprobe = 4,
      dim = 64))
    val cells = base.select(col("vec_id"), col("cell"))
      .unionByName(SimSearch.assignIvfCells(extra, cen, "vec_id",
        "embedding"))
    val inlineCodes = SimSearch.pqEncode(all.drop("cell"), cb,
      "vec_id", "embedding", m = 2, dim = 64)
      .join(cells, Seq("vec_id"))
    val inline = canon(SimSearch.ivfPqTopK(inlineCodes, cb, cen,
      queries, "vec_id", "embedding", "vec_id", m = 2, k = 4,
      nprobe = 4, dim = 64))
    assert(fromIndex == inline)
  }

  test("persisted PQ index serves identically to the inline pipeline") {
    def vec(d0: Float, d32: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = d0
      a(32) = d32
      a
    }
    val emb = (0L until 16L).map { i =>
      (i, i % 4, vec(if (i % 2 == 0) 10f else -10f,
        if ((i / 2) % 2 == 0) 10f else -10f))
    }.toDF("vec_id", "cell", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("pqidx").toString
    SimSearch.writePqIndex(emb, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    val SimSearch.PqIndex(cb, codes, centroids, _) =
      SimSearch.readPqIndex(spark, dir)
    assert(cb.count() == 4 && codes.count() == 32 &&
      centroids.count() == 4)
    // the cell partition column survives the parquet round-trip and
    // serving from the loaded artifacts reproduces the inline answers
    val queries = emb.filter(col("vec_id") < 4)
    val fromIndex = SimSearch.ivfPqTopK(codes, cb, centroids, queries,
      "vec_id", "embedding", "vec_id", m = 2, k = 4, nprobe = 1,
      dim = 64).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val inlineCb = SimSearch.pqFit(emb, "vec_id", "embedding",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    val inline = SimSearch.ivfPqTopK(
      SimSearch.pqEncode(emb, inlineCb, "vec_id", "embedding",
        m = 2, dim = 64)
        .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id")),
      inlineCb,
      SimSearch.ivfCentroids(emb, "vec_id", "embedding", "cell",
        dim = 64, bucketWidth = 4L),
      queries, "vec_id", "embedding", "vec_id", m = 2, k = 4,
      nprobe = 1, dim = 64).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(fromIndex == inline)
  }

  /** The learned transform a loaded index's frame carries, if any. */
  private def permOf(f: SimSearch.PqFrame) = f match {
    case SimSearch.PqFrame.Permuted(_, perm) => Some(perm)
    case _ => None
  }

  private def rotOf(f: SimSearch.PqFrame) = f match {
    case SimSearch.PqFrame.Rotated(_, rot) => Some(rot)
    case _ => None
  }

  private def lifecycleFixture() = {
    def vec(d0: Float, d32: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(0) = d0
      a(32) = d32
      a
    }
    (0L until 16L).map { i =>
      (i, i % 4, vec(if (i % 2 == 0) 10f else -10f,
        if ((i / 2) % 2 == 0) 10f else -10f))
    }.toDF("vec_id", "cell", "embedding")
  }

  private def serveRefined(dir: String,
      emb: org.apache.spark.sql.DataFrame) = {
    val idx = SimSearch.readPqIndex(spark, dir)
    val queries = emb.filter(col("vec_id") < 4)
    SimSearch.rerankExact(SimSearch.ivfPqTopK(idx.codes, idx.codebooks,
      idx.centroids, queries, "vec_id", "embedding", "vec_id", m = 2,
      k = 8, nprobe = 2, dim = 64, frame = idx.frame), queries, emb,
      "vec_id", "embedding", "vec_id", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
  }

  test("pq index deletion lifecycle: tombstoned ids never surface " +
    "from serving, compaction physically drops them and serves " +
    "identically, and survivor results match an index that never " +
    "held the deleted rows in its code table") {
    val emb = lifecycleFixture()
    val dir = java.nio.file.Files
      .createTempDirectory("pqdel").toString
    SimSearch.writePqIndex(emb, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    val deleted = Set(5L, 10L, 15L)
    SimSearch.deleteFromPqIndex(
      deleted.toSeq.toDF("vec_id"), dir)
    val tombstoned = serveRefined(dir, emb)
    assert(tombstoned.nonEmpty)
    assert(!tombstoned.values.exists(v => deleted.contains(v._1)),
      s"tombstoned id surfaced: $tombstoned")
    // survivors: identical to serving codes that never held the rows
    // (codebooks/centroids still fit on the FULL corpus — deletes
    // never refit models)
    val inlineCb = SimSearch.pqFit(emb, "vec_id", "embedding",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    val queries = emb.filter(col("vec_id") < 4)
    val inline = SimSearch.rerankExact(SimSearch.ivfPqTopK(
      SimSearch.pqEncode(emb, inlineCb, "vec_id", "embedding",
        m = 2, dim = 64)
        .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .filter(!col("vec_id").isin(deleted.toSeq: _*)),
      inlineCb,
      SimSearch.ivfCentroids(emb, "vec_id", "embedding", "cell",
        dim = 64, bucketWidth = 4L),
      queries, "vec_id", "embedding", "vec_id", m = 2, k = 8,
      nprobe = 2, dim = 64), queries, emb, "vec_id", "embedding",
      "vec_id", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(tombstoned == inline)
    // compaction: same serving, rows physically gone, tombstones GC'd
    SimSearch.compactPqIndex(spark, dir)
    assert(serveRefined(dir, emb) == tombstoned)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val meta = SimSearch.pqMarker.read(fs, dir)
    assert(meta.dir("codes").startsWith("codes_gen=") &&
      meta.batches.isEmpty, meta.toString)
    val physical = spark.read.parquet(s"$dir/${meta.dir("codes")}")
    assert(physical.count() == (16 - deleted.size) * 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes")),
      "old generation not GC'd")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/tombstones")),
      "folded tombstones not GC'd")
  }

  test("pq index retention window: superseded snapshots stay " +
    "readable (mid-scan readers survive compaction), pqGenerations " +
    "tracks the window, GC honors retain") {
    val emb = lifecycleFixture()
    val dir = java.nio.file.Files
      .createTempDirectory("pqretain").toString
    SimSearch.writePqIndex(emb, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    // creation is the pristine marker-less layout: no snapshots yet
    assert(SimSearch.pqMarker.listGenerations(spark, dir).isEmpty)
    SimSearch.deleteFromPqIndex(Seq(1L, 5L).toDF("vec_id"), dir,
      retain = 2) // snapshot gen 1: codes + tombstone batch 1
    SimSearch.compactPqIndex(spark, dir, retain = 2) // snapshot gen 2
    assert(SimSearch.pqMarker.listGenerations(spark, dir) == Seq(1L, 2L))
    // snapshot gen 1 still resolves: the pristine codes dir AND its
    // tombstone batch are inside the window; both reads agree on the
    // survivors (the snapshot anti-joins its own tombstones)
    val snap1 = SimSearch.readPqIndex(spark, dir, 1L).codes
    assert(snap1.count() == (16L - 2L) * 2L)
    assert(new java.io.File(s"$dir/codes").isDirectory,
      "retained snapshot's codes generation must survive GC")
    // THE LIVENESS CASE: a frame resolved on the current snapshot
    // survives a retain=2 compaction mid-scan
    val midScan = SimSearch.readPqIndex(spark, dir).codes
    SimSearch.compactPqIndex(spark, dir, retain = 2) // gen 3
    assert(midScan.count() == (16L - 2L) * 2L)
    assert(SimSearch.pqMarker.listGenerations(spark, dir) == Seq(2L, 3L))
    // aged out: gen 1 gone, fail-loud with the retain hint
    val err = intercept[IllegalArgumentException] {
      SimSearch.readPqIndex(spark, dir, 1L)
    }
    assert(err.getMessage.contains("retain"))
    // the window PERSISTS in the marker: a default-retain lifecycle
    // op keeps the 2-snapshot window previous callers established
    // (the old per-call minimum would have collapsed it)
    SimSearch.deleteFromPqIndex(Seq(2L).toDF("vec_id"), dir)
    assert(SimSearch.pqMarker.listGenerations(spark, dir) == Seq(3L, 4L))
    assert(!new java.io.File(s"$dir/codes").exists())
  }

  test("pq index lifecycle crash windows: an orphan tombstone batch " +
    "(no marker) is invisible and healed by the next writer; a torn " +
    "marker is ignored; a full rebuild resets the lifecycle") {
    val emb = lifecycleFixture()
    val dir = java.nio.file.Files
      .createTempDirectory("pqcrash").toString
    SimSearch.writePqIndex(emb, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val before = serveRefined(dir, emb)
    // crash between the tombstone batch write and the marker PUT:
    // the batch is unreferenced — the delete simply did not happen
    Seq(1L).toDF("vec_id").write.parquet(s"$dir/tombstones/batch=1")
    assert(serveRefined(dir, emb) == before,
      "orphan tombstone batch leaked into serving")
    // a torn marker (no footer) is skipped by readers
    val torn = fs.create(
      new org.apache.hadoop.fs.Path(dir, f"_live.${9L}%019d"), false)
    torn.write("codes:codes_gen=9\ntomb:".getBytes("UTF-8"))
    torn.close()
    assert(serveRefined(dir, emb) == before, "torn marker ruled")
    // the next writer heals both artifacts and its delete commits
    SimSearch.deleteFromPqIndex(Seq(5L).toDF("vec_id"), dir)
    val got = serveRefined(dir, emb)
    assert(!got.values.exists(_._1 == 5L), got.toString)
    // a rebuild resets the lifecycle: pristine meta, everything serves
    SimSearch.writePqIndex(emb, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    val meta = SimSearch.pqMarker.read(fs, dir)
    assert(meta.gen == 0L && meta.dir("codes") == "codes" &&
      meta.batches.isEmpty, meta.toString)
    assert(serveRefined(dir, emb) == before)
  }

  test("appendToPqIndex lands in the LIVE generation after a " +
    "compaction and the appended ids serve; re-appending a " +
    "tombstoned id stays hidden until compacted") {
    val emb = lifecycleFixture()
    val dir = java.nio.file.Files
      .createTempDirectory("pqappend2").toString
    val half = emb.filter(col("vec_id") < 12)
    SimSearch.writePqIndex(half, dir, "vec_id", "embedding", "cell",
      m = 2, k = 2, iters = 2, dim = 64, bucketWidth = 4L)
    SimSearch.deleteFromPqIndex(Seq(11L).toDF("vec_id"), dir)
    SimSearch.compactPqIndex(spark, dir)
    // append the remaining vectors into the compacted generation
    SimSearch.appendToPqIndex(emb.filter(col("vec_id") >= 12), dir,
      "vec_id", "embedding", m = 2, dim = 64,
      cellCol = Some("cell"))
    val served = serveRefined(dir, emb)
    assert(served.values.exists(v => v._1 >= 12L),
      s"appended ids unreachable: $served")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes")))
    // 11 was compacted away, so re-appending it re-indexes it
    // physically — but only a compacted index forgets a tombstone;
    // here the tombstone list is empty, so 11 serves again
    SimSearch.appendToPqIndex(
      emb.filter(col("vec_id") === 11L), dir, "vec_id", "embedding",
      m = 2, dim = 64, cellCol = Some("cell"))
    val meta = SimSearch.pqMarker.read(fs, dir)
    val ids = spark.read.parquet(s"$dir/${meta.dir("codes")}")
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 16L).toSet, ids.toString)
  }

  test("randomProject: fold dot against the md5-derived planes") {
    val v = Array.fill(64)(0.0f)
    v(0) = 2.0f
    v(5) = -1.0f
    val out = Seq((7L, v)).toDF("vec_id", "embedding")
    val row = SimSearch.randomProject(out, "vec_id", "embedding", outDim = 3)
      .head()
    // only dims 0 and 5 are non-zero → projection is a 2-term sum
    (0 until 3).foreach { p =>
      val expect = BigDecimal(
        2.0 * SimSearch.planeWeight(p, 0) +
          (-1.0) * SimSearch.planeWeight(p, 5))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(row.getDouble(1 + p) - expect) < 1e-9,
        s"p$p mismatch")
    }
  }
}
