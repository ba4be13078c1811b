package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.schema.{ColumnSpec, SchemaConfig}
import graft.sim.SimSearch
import graft.streaming.EventOps
import graft.text.{Dedup, TextOps}
import graft.multimodal.Multimodal

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family from SURVEY.md §2 plus the LLM-pipeline extensions
  * gets a `queries` entry phrased over the driver's tables, with a DuckDB
  * `oracleSql` twin where the semantics are SQL-expressible. Column names
  * and value types are aligned on both sides (the driver sorts columns by
  * name and hash-compares values). Floating aggregates are computed through
  * identical IEEE operation chains on both sides and rounded at a fixed
  * scale so association-order differences cannot flip the hash. Cross-engine
  * determinism for hash-based ops comes from md5 (computable identically
  * everywhere); the production paths use xxhash64 instead (cheaper) where
  * no oracle needs to replay them.
  */
object SparkEntry {
  import Tables.t

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q01_groupby_agg(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------ §2.5 agg

  /** A7/A4: pricing-summary aggregation (TPC-H Q1 shape). */
  def q01_groupby_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** A1/A2/P4: distinct key universe (reference `src/query.py:39-43`). */
  def q02_distinct_keys(s: SparkSession, dir: String): DataFrame =
    Relational.distinctKeys(t(s, dir, "orders"),
      Seq("o_custkey", "o_orderstatus"))

  /** A5/J1/O4: exact-n deterministic key sample + broadcast join-back
    * (reference `src/query.py:31-55`). md5 rank so DuckDB replays it.
    */
  def q03_sample_joinback(s: SparkSession, dir: String): DataFrame = {
    val keys = Relational.sampleExact(
      Relational.distinctKeys(t(s, dir, "orders"), Seq("o_orderkey")),
      10, Relational.md5Rank(Seq(col("o_orderkey")), 42),
      Seq(col("o_orderkey")))
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Relational.joinBack(t(s, dir, "lineitem"), keys, Seq("l_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        unix_timestamp(col("l_shipdate")).as("ship_epoch"))
  }

  /** F2-F7: the reference's whole predicate algebra in one filter fold. */
  def q04_filter_algebra(s: SparkSession, dir: String): DataFrame =
    Relational.filtered(t(s, dir, "customer"), Seq(
      col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") ||
        col("c_mktsegment") === "MACHINERY",          // F4 disjunction / F2
      col("c_acctbal").isNotNull && col("c_acctbal") > 100.0, // F5/F3
      col("c_nationkey").isin(0 to 10: _*),           // F7 membership
      lower(col("c_name").cast("string")).like("c%")))  // F6 normalized cmp

  /** A2/A3/A7/O3: per-key telemetry block (`app/main.py:89-95`).
    * No spread: max/collect_set per row is cheap, so the extra
    * repartition shuffle costs more than 32-way parallelism saves
    * (measured 1.74s spread vs 1.13s bare at sf0.1).
    */
  def q05_telemetry(s: SparkSession, dir: String): DataFrame =
    PlayOps.telemetry(t(s, dir, "lineitem"), Seq("l_orderkey"),
      frameCol = "l_linenumber", speedCol = "l_quantity",
      entityCol = "l_partkey", eventCol = "l_returnflag")
      .select(col("l_orderkey"), col("total_frames"), col("max_speed"),
        col("n_players"), array_join(col("events"), ",").as("events"),
        col("duration_sec"))

  /** O2/O4: multi-key canonical sort + limit (TakeOrdered). */
  def q06_sort_limit(s: SparkSession, dir: String): DataFrame =
    Relational.sortLimit(
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
      Seq("l_orderkey", "l_linenumber"), 100)

  /** J2: input/output split-table merge on a 4-part composite key
    * (`data/nfl-bdb/2026/README.md:91-94`).
    */
  def q07_merge_split(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val key = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val in = li.select(key.map(col) :+ col("l_quantity"): _*)
    val out = li.select(
      key.map(col) :+ col("l_extendedprice") :+ col("l_returnflag"): _*)
    Relational.mergeSplit(in, out, key)
  }

  /** Union of weekly drops by name, null-filling missing columns
    * (`2026/README.md:84-88`).
    */
  def q08_union_weeks(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val wk1 = o.filter(col("o_orderkey") % 2 === 0)
    val wk2 = o.filter(col("o_orderkey") % 2 === 1).drop("o_orderpriority")
    Relational.unionWeeks(Seq(wk1, wk2))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
  }

  /** T2: frame-ordered trajectories, flattened for the oracle. The struct
    * sort key includes partkey/suppkey because (orderkey, linenumber) is
    * not unique in the driver data — the full tuple gives a total order.
    */
  def q09_trajectory(s: SparkSession, dir: String): DataFrame =
    // bare scan beats spread here (0.94s vs 1.39s at sf0.1): the
    // per-row struct build is light and posexplode undoes the grouping
    PlayOps.trajectoriesFlat(t(s, dir, "lineitem"),
      Seq("l_orderkey"), "l_linenumber",
      Seq("l_partkey", "l_suppkey", "l_quantity"))

  /** T1: tensor pivot shape + checksum invariants. lineitem mapped onto
    * the tracking shape: order=play, linenumber=frame, suppkey=entity.
    */
  def q10_tensor(s: SparkSession, dir: String): DataFrame = {
    val frames = spread(t(s, dir, "lineitem"), s).select(
      col("l_orderkey").as("gameId"), lit(1).as("playId"),
      col("l_linenumber").as("frameId"),
      col("l_suppkey").cast("int").as("nflId"),
      lit("offense").as("team"),
      col("l_quantity").as("x"), col("l_discount").as("y"))
    Tensor.toTensor(frames, Seq("x", "y"), maxFrames = 8, maxEntities = 8)
      .select(col("gameId"), col("n_frames"),
        round(aggregate(flatten(flatten(col("tensor"))), lit(0.0),
          (acc, v) => acc + v.cast("double")), 2).as("checksum"))
  }

  /** P1-P3/P5: alias-resolving normalize projection over a TPC-H table —
    * first-present-wins alias, cast, literal default, typed null, drop.
    */
  def q11_normalize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val config = SchemaConfig(Seq(
      ColumnSpec("cust_key", LongType, Seq("custkey", "c_custkey")),
      ColumnSpec("balance", DoubleType, Seq("c_acctbal")),
      ColumnSpec("segment", StringType, Seq("C_MKTSEGMENT")), // case-insens.
      ColumnSpec("vip_flag", StringType, Seq("vip"), default = Some("none")),
      ColumnSpec("note", StringType, Seq("missing_note"), allowNull = true),
      ColumnSpec("gone", StringType, Seq("not_there")))) // required → drop
    Normalize(t(s, dir, "customer"), config)
  }

  /** A3/A4: the ingest summary aggregation over a driver table. */
  def q12_ingest_summary(s: SparkSession, dir: String): DataFrame =
    Ingest.summaryDf(t(s, dir, "lineitem"),
      gameCol = "l_orderkey", playCol = "l_partkey", frameCol = "l_linenumber")

  // ----------------------------------------------- LLM-pipeline operators

  /** Exact dedup: survivor id + duplicate count per content hash. */
  def q13_exact_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "text", "doc_id")

  /** documents arrives as one parquet file → one input split; the text ops
    * are pure per-row compute, so spread them across cores. (At real scale
    * the corpus has thousands of splits and this repartition disappears.)
    */
  private def docs(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents"), s)

  /** embeddings arrives as one parquet file → one input split, and a
    * vector kernel's heavy side is often the NON-broadcast stream side
    * of a broadcast join (or the scan stage itself), which keeps the
    * input partitioning — on a single split every distance loop runs
    * on ONE task (measured: q127's three 3 s scoring jobs, tasks=1
    * each; spread → 1.7 s total). Same rationale and same trade as
    * [[docs]], but OPT-IN per query and only where measured better:
    * the iterative-fit family (PQ/k-means/lifecycle) runs MANY tiny
    * jobs over the persisted table, where 32-way cached partitions
    * multiply per-job task overhead and measured 20-40% SLOWER — those
    * keep the bare scan. At real scale the corpus has thousands of
    * splits and the spread is a no-op decision.
    */
  private def vecs(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "embeddings"), s)

  /** Spread a single-split scan across cores. Only worth it when the
    * dominant cost is per-row struct/array building ABOVE the scan
    * (collect_list aggregations, text/vector kernels): there the one
    * cheap shuffle of the small file unlocks 32-way partial aggregation
    * (measured: tensor packing 2.6s -> 1.8s at sf0.1). For cheap-per-row
    * relational queries the shuffle costs more than it saves — those
    * keep the bare scan. At real scale inputs have thousands of splits
    * and this is a no-op decision.
    */
  private def spread(df: DataFrame, s: SparkSession): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Thread-local job label (guide §1.5) — used inside Par lambdas so
    * each concurrent family build is attributable in the profiler.
    */
  private def jobLabel[A](s: SparkSession, what: String)(f: => A): A = {
    s.sparkContext.setJobDescription(what)
    try f finally s.sparkContext.setJobDescription(null)
  }

  /** Multiset row equality as ONE Spark job: the union of both
    * exceptAll directions probed with a single limit-1 action, instead
    * of two isEmpty jobs whose `&&` both always run on the (normal)
    * passing path — the in-query lifecycle `require`s all use it.
    */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).union(b.exceptAll(a)).isEmpty

  /** Staged doc→tokens→shingles projection: each level materializes once
    * per row instead of re-splitting the text inside the shingle lambda.
    */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextOps.tokensSimple(col("text")).as("toks"))
      .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))

  /** MinHash signatures over word 3-shingles: distinct-shingle count,
    * sampled signature positions, and the signature sum (a full-signature
    * checksum) per document.
    */
  def q14_minhash(s: SparkSession, dir: String): DataFrame = {
    val sig = TextOps.minhashSig(col("sh"), 32)
    shingled(s, dir)
      .select(col("doc_id"), size(array_distinct(col("sh")))
        .as("n_shingles"), sig.as("sig"))
      .select(
        col("doc_id"), col("n_shingles"),
        element_at(col("sig"), 1).as("sig_0"),
        element_at(col("sig"), 17).as("sig_16"),
        aggregate(col("sig"), lit(0L), (a, x) => a + x).as("sig_sum"))
  }

  /** LSH banding: (doc, band, bucket) assignments — the join key that
    * makes near-dup candidate generation an equi-join, never all-pairs.
    */
  def q15_lsh_buckets(s: SparkSession, dir: String): DataFrame = {
    val signed = shingled(s, dir).select(
      col("doc_id"), TextOps.minhashSig(col("sh"), 32).as("sig"))
    Dedup.lshBuckets(signed, "doc_id", "sig", bands = 8, rowsPerBand = 4)
  }

  /** Near-dup candidate pairs with signature-estimated Jaccard — the full
    * MinHash-LSH pipeline, replayed end-to-end by the DuckDB oracle
    * (signatures → bucket self-join → agreement fraction; est-Jaccard is
    * k/32, a dyadic rational, so the threshold compare is exact).
    */
  def q16_near_dup_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(docs(s, dir), "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.2,
      tokenizer = TextOps.tokensSimple)

  /** Brute-force cosine top-k similarity search (exact ANN baseline). */
  def q17_cosine_topk(s: SparkSession, dir: String): DataFrame =
    SimSearch.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      col("vec_id") < 10, k = 5)

  /** SimHash-bucketed ANN top-k (the 100 TB scale path). The hyperplanes
    * are md5-derived ([[graft.sim.SimSearch.planeWeight]]) so the oracle
    * replays the exact bucketing and ranking in SQL.
    */
  def q18_ann_topk(s: SparkSession, dir: String): DataFrame =
    SimSearch.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      col("vec_id") < 50, k = 5, planes = 6, dim = 64)

  /** Token statistics + order-sensitive rolling fingerprint per doc. */
  def q19_text_stats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("text"),
        TextOps.tokensSimple(col("text")).as("toks"))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_calc"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct_tokens"),
        TextOps.fingerprint(col("toks")).as("fingerprint"))

  /** Marker-based language ID + quality scoring. */
  def q20_text_quality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextOps.tokensSimple(col("text")).as("toks"))
      .select(
        col("doc_id"),
        TextOps.langId(col("toks")).as("lang_pred"),
        TextOps.markerScore(col("toks"), TextOps.stopwords).as("n_stopwords"),
        TextOps.qualityScore(col("toks")).as("quality"))

  /** SimHash document fingerprint (bit-vote over token hashes). */
  def q21_simhash(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextOps.tokensSimple(col("text")).as("toks"))
      .select(col("doc_id"), TextOps.simhash(col("toks"), 16).as("simhash16"))

  /** §2.7/J3: per-frame nearest-neighbor distance feature (the "distance
    * to nearest defender" shape — per-frame self-join + struct-min).
    */
  def q22_nearest_distance(s: SparkSession, dir: String): DataFrame =
    // bare scan beats spread (1.06s vs 1.40s at sf0.1): the fused
    // nearest kernel is fast enough that the repartition doesn't pay
    FeatureStore.nearestDistance(t(s, dir, "lineitem"),
      frameKeys = Seq("l_orderkey"), entityCol = "l_linenumber",
      xCol = "l_quantity", yCol = "l_discount")

  /** Streaming-shaped tumbling-window aggregation (batch twin of the
    * Structured-Streaming path in graft.streaming).
    */
  def q23_events_window(s: SparkSession, dir: String): DataFrame =
    EventOps.tumblingAgg(t(s, dir, "events"), "1 hour")

  /** Batch sessionization with a 30-minute inactivity gap. */
  def q24_sessionize(s: SparkSession, dir: String): DataFrame =
    EventOps.sessionize(t(s, dir, "events"), gapMinutes = 30)

  /** Multimodal plumbing: binary media column + expression-level metadata
    * (byte length, content hash, magic prefix).
    */
  def q25_multimodal_meta(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaMeta(
      Multimodal.withMedia(t(s, dir, "documents"), "text"))
      .select("doc_id", "n_bytes", "content_sha", "magic_hex")

  /** S1/S2/S5/S4/P1 end-to-end: synthesize a small camelCase tracking CSV,
    * ingest it through Normalize into a Hive-partitioned pool, read the
    * pool back, return its summary (rows-only check: no oracle can see the
    * temp files — so the query itself require()s rows, schema, and the
    * partition LAYOUT, then materializes the summary and deletes its
    * temp tree).
    */
  def q26_ingest_roundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Files.createTempDirectory("graft_rt")
    try {
      val in = base.resolve("in").toString
      val poolRoot = base.resolve("pool").toString
      val rows = for {
        p <- 1 to 2; f <- 1 to 30; e <- 0 until 3
      } yield (2023090700L, p * 50, if (e == 2) None else Some(40000 + e), f,
        if (e == 2) "football" else "home", 10.0f + f, 20.0f + e, "padding")
      rows.toDF("gameId", "playId", "nflId", "frameId", "team", "x", "y",
        "junkColumn")
        .coalesce(1).write.option("header", "true").mode("overwrite").csv(in)
      val res = Ingest.run(s, in, poolRoot, graft.schema.Vintages.canonical)
      require(res.badFiles.isEmpty && res.summary.rows == 180L,
        s"roundtrip lost rows: $res")
      // partition layout: one season=.../gameId=... Hive leaf holding
      // parquet (the per-game pruning contract every pool query rests on)
      val leaf = base.resolve("pool").resolve("season=2023")
        .resolve("gameId=2023090700")
      require(java.nio.file.Files.isDirectory(leaf),
        s"pool missing Hive partition layout at $leaf")
      val leafFiles = java.nio.file.Files.list(leaf)
      val hasParquet =
        try leafFiles.anyMatch(p => p.toString.endsWith(".parquet"))
        finally leafFiles.close()
      require(hasParquet, s"no parquet data files under $leaf")
      val pool = Pool(s, poolRoot).df
      // schema: canonical columns survive, junk is gone, dtypes normalized
      val fields = pool.schema.fields.map(f => f.name -> f.dataType).toMap
      require(!fields.contains("junkColumn"),
        "undeclared source column leaked into the pool")
      import org.apache.spark.sql.types.{FloatType, IntegerType}
      Seq("playId" -> IntegerType, "frameId" -> IntegerType,
        "x" -> FloatType, "y" -> FloatType).foreach { case (n, dt) =>
        require(fields.get(n).contains(dt),
          s"pool column $n should be $dt, got ${fields.get(n)}")
      }
      Seq("gameId", "season", "nflId", "team").foreach { n =>
        require(fields.contains(n), s"pool lost column $n")
      }
      // object-store-safe flavor (S5's upsert without atomic rename —
      // the 100 TB object-store path): the same pool rows through the
      // marker-committed writer must read back row-identical, and the
      // commit must be exactly one marker object
      val mroot = base.resolve("mpool").toString
      graft.operators.PoolCommit.write(pool, mroot)
      val mpool = graft.operators.PoolCommit.read(s, mroot)
      val ordered = pool.columns.sorted.map(col)
      require(
        sameRows(mpool.select(ordered: _*), pool.select(ordered: _*)),
        "marker-committed pool diverged from the rename pool")
      require(java.nio.file.Files.exists(base.resolve("mpool")
        .resolve("_pool_marker.0000000000000000001")),
        "marker flavor missing its commit marker")
      // materialize the 1-row summary BEFORE the finally deletes the
      // files it reads from; return a driver-local frame
      val summary = Ingest.summaryDf(pool)
      val collected = summary.collect().toIndexedSeq
      s.createDataFrame(
        new java.util.ArrayList(collected.asJava), summary.schema)
    } finally {
      // the temp tree must not outlive the query (a leaked ~100 KB per
      // gate run adds up across driver rounds)
      java.nio.file.Files.walk(base).sorted(
        java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
  }

  /** Skew-safe salted join: must be row-identical to the plain join, so
    * the plain join IS its oracle. Joins the (skewed-by-construction)
    * lineitem fact against the orders dimension.
    */
  def q28_salted_join(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "orders").select(
      col("o_orderkey").as("l_orderkey"),
      col("o_orderstatus"), col("o_totalprice"))
    // saltFactor 4: enough to demonstrate the skew split while keeping
    // the dim explode bounded (8 measured 1.73s vs 4 at 1.19s at sf0.1)
    Relational.saltedJoin(
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity"),
      dim, Seq("l_orderkey"), saltFactor = 4)
  }

  /** IVF-style ANN: label-cell coarse quantization + nprobe search. The
    * two-level id-ordered centroid fold makes the whole pipeline
    * deterministic, so the oracle replays it (bucket partials,
    * centroids, probe choice, final rank) in SQL. bucketWidth 128 < the
    * sf0.01 id range so the gate exercises BOTH fold levels.
    */
  def q27_ivf_topk(s: SparkSession, dir: String): DataFrame =
    SimSearch.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      cellCol = "label", queryPred = col("vec_id") < 20, k = 5, nprobe = 2,
      bucketWidth = 128L)

  /** Near-dup clustering: LSH candidate pairs at est-Jaccard ≥ 0.5 →
    * connected components → (doc_id, cluster). The oracle replays the
    * full pipeline in SQL: signature CTEs, bucket self-join, per-pair
    * signature agreement, then a recursive-CTE transitive closure.
    */
  def q29_dedup_clusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDupPairs(docs(s, dir), "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.5,
      tokenizer = TextOps.tokensSimple) // oracle replays string_split ' '
      .select("id_a", "id_b")
    val ids = t(s, dir, "documents").select(col("doc_id").as("id"))
    Dedup.clusterLabels(ids, pairs)
      .select(col("id").as("doc_id"), col("cluster"))
  }

  /** As-of join: every click gets its user's latest preceding (or
    * simultaneous) purchase. DuckDB's native ASOF JOIN is the oracle.
    */
  def q30_asof_join(s: SparkSession, dir: String): DataFrame = {
    val ev = EventOps.normalizeTs(t(s, dir, "events"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
    Relational.asofJoin(clicks, purchases, Seq("user_id"), "ts",
      Map("p_event_id" -> "purchase_id", "p_value" -> "purchase_value"),
      tieBreak = Seq("p_event_id"))
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("click_epoch"),
        col("purchase_id"), col("purchase_value"))
  }

  /** Long→wide pivot: per-user event-type counts with a fixed category
    * list (single-pass, no discovery job).
    */
  def q31_pivot(s: SparkSession, dir: String): DataFrame =
    Relational.pivotCounts(t(s, dir, "events"), "user_id", "event_type",
      Seq("click", "error", "purchase", "signup", "view"))

  /** T3 frame slice: one "animation frame" of every play — the reference's
    * per-frame fetch (`app/main.py:163-167`) phrased over lineitem with
    * l_linenumber standing in for frameId.
    */
  def q32_frame_slice(s: SparkSession, dir: String): DataFrame =
    PlayOps.frameSlice(
      t(s, dir, "lineitem")
        .withColumnRenamed("l_linenumber", "frameId")
        .select("l_orderkey", "frameId", "l_partkey", "l_quantity"),
      frameId = 3)

  /** Exact n-gram Jaccard verification of the LSH candidate pairs — the
    * verify stage a production near-dup pipeline runs after candidate
    * generation (never all-pairs; only bucket-collision pairs score).
    */
  def q33_exact_jaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(s, dir)
    val signed = sh.select(col("doc_id"),
      TextOps.minhashSig(col("sh"), 32).as("sig"))
    val pairs = Dedup.candidatePairs(
      Dedup.lshBuckets(signed, "doc_id", "sig", bands = 8, rowsPerBand = 4),
      "doc_id")
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
  }

  /** Embedding-cosine near-dup pairs: hyperplane-bucketed candidate join,
    * exact cosine at threshold 0.4 (dedup flavor of ANN).
    */
  def q34_cosine_near_dup(s: SparkSession, dir: String): DataFrame =
    SimSearch.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
      "embedding", threshold = 0.4, planes = 6, dim = 64)

  /** BPE-ish LLM token-budget estimate vs whitespace token count per doc
    * (the regex sub-token splitter behind `TextOps.tokenEstimate`).
    */
  def q35_token_estimate(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(TextOps.tokensSimple(col("text"))).as("n_tokens_ws"),
      TextOps.tokenEstimate(col("text")).as("n_tokens_bpe"))

  /** Exact per-group percentiles (telemetry "p50/p95 speed per play"
    * shape). Both engines implement the continuous-quantile definition;
    * lineitem quantities are small integers so the interpolation is
    * float-exact on both sides.
    */
  def q36_percentiles(s: SparkSession, dir: String): DataFrame =
    Relational.groupPercentiles(t(s, dir, "lineitem"),
      Seq("l_returnflag"), "l_quantity",
      Seq("p50" -> 0.5, "p95" -> 0.95))

  /** Range join: clicks matched to every purchase window
    * [purchase_ts, purchase_ts + 1h] of the same user — candidate
    * generation is a bin-bucketed equi-join, never a theta nested loop.
    */
  def q37_range_join(s: SparkSession, dir: String): DataFrame = {
    val ev = EventOps.normalizeTs(t(s, dir, "events"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val wins = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("hi"))
    Relational.rangeJoin(clicks, wins, Seq("user_id"), "ts", "lo", "hi",
      binWidth = 3600)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("click_epoch"), col("purchase_id"))
  }

  /** Token-window chunking: 40-token chunks, 10-token overlap — the
    * context-window prep step of an LLM data pipeline.
    */
  def q38_chunking(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        TextOps.chunkTokens(TextOps.tokensSimple(col("text")),
          size = 40, overlap = 10).as("chunks"))
      .select(col("doc_id"), explode(col("chunks")).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        col("c.chunk_text").as("chunk_text"))

  /** Stratified sample: 20 deterministic docs per language (md5 rank,
    * windowless two-phase top-n per class).
    */
  def q39_stratified_sample(s: SparkSession, dir: String): DataFrame =
    Relational.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
      n = 20, seed = 42)

  /** Token-budget sharding: ~1000-token shards per language in doc-id
    * order (sequence-packing approximation). bucketWidth 128 < the
    * sf0.01 id range, so the gate exercises the two-level prefix sum
    * (sub-window locals + offset merge); the shard values are
    * bucketWidth-independent, so the oracle keeps the single-window SQL.
    */
  def q40_token_shards(s: SparkSession, dir: String): DataFrame =
    Relational.tokenShards(
      docs(s, dir).select(col("lang"), col("doc_id"),
        size(TextOps.tokensSimple(col("text"))).as("n_tokens")),
      "lang", "doc_id", "n_tokens", budget = 1000L, bucketWidth = 128L)

  /** Repetition quality filter: duplicate 3-gram fraction and top n-gram
    * frequency per doc (the Gopher-style corpus-curation signal).
    */
  def q41_repetition(s: SparkSession, dir: String): DataFrame =
    shingled(s, dir)
      .select(col("doc_id"), TextOps.repetition(col("sh")).as("r"))
      .select(col("doc_id"), col("r.n_grams"), col("r.n_distinct"),
        col("r.dup_ratio"), col("r.max_count"))

  /** Benchmark decontamination: training docs sharing any word 5-gram
    * with the simulated eval split (doc_id % 50 == 0) are dropped; the
    * eval gram set and the contaminated-id set both broadcast.
    */
  def q42_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    val train = all.filter(col("doc_id") % 50 =!= 0)
    val eval = all.filter(col("doc_id") % 50 === 0)
    Dedup.decontaminate(train, eval, "text", "doc_id", k = 5,
      tokenizer = TextOps.tokensSimple)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Corpus vocabulary: top-100 tokens by frequency (stopword/vocab
    * derivation — the aggregation feeding quality filters).
    */
  def q43_vocab(s: SparkSession, dir: String): DataFrame =
    Relational.topFrequent(
      docs(s, dir).select(
        explode(TextOps.tokensSimple(col("text"))).as("token")),
      "token", k = 100)

  /** TF-IDF term scoring (ratio flavor — log-free so the float chain is
    * engine-exact) per distinct (doc, term).
    */
  def q44_tfidf(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidf(docs(s, dir), "text", "doc_id", TextOps.tokensSimple)

  /** Quality-weighted exact-n corpus sample (priority sampling): 50 docs
    * weighted by length, md5-derived uniforms — fully deterministic.
    */
  def q45_weighted_sample(s: SparkSession, dir: String): DataFrame =
    Relational.prioritySample(
      t(s, dir, "documents").select("doc_id", "n_chars"),
      "doc_id", col("n_chars"), n = 50, seed = 7)

  /** PII scrubbing: URL/email counts + redacted text. Synthetic
    * contamination is injected for doc_id % 7 == 0 (the driver corpus
    * contains no PII) so the operator actually fires; the oracle
    * injects the identical suffix.
    */
  def q46_redact(s: SparkSession, dir: String): DataFrame = {
    val injected = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"),
          lit(" contact admin@example.com or https://data.example.com/dl?id="),
          col("doc_id").cast("string")))
        .otherwise(col("text")).as("raw"))
    injected.select(
      col("doc_id"),
      size(regexp_extract_all(col("raw"), lit(TextOps.urlPattern), lit(0)))
        .as("n_urls"),
      size(regexp_extract_all(col("raw"), lit(TextOps.emailPattern), lit(0)))
        .as("n_emails"),
      TextOps.redactPii(col("raw")).as("clean_text"))
  }

  /** Symmetric int8 embedding quantization: per-vector scale +
    * quantized-component checksums (sum/min/max — exact integers).
    */
  def q47_quantize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        SimSearch.maxAbs(col("embedding")).as("mx"))
      .select(col("vec_id"), col("mx"),
        SimSearch.quantizeInt8(col("embedding"), col("mx")).as("q"))
      .select(col("vec_id"),
        round(col("mx"), 6).as("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))

  /** Deterministic Lloyd k-means (the IVF centroid trainer): 4 clusters,
    * 2 update rounds, id-seeded, bounded two-level id-ordered fold means
    * — the oracle unrolls both rounds (and both fold levels) in SQL.
    * bucketWidth 128 < the sf0.01 id range so the gate exercises the
    * bucketed path, not the degenerate one-bucket case.
    */
  def q48_kmeans(s: SparkSession, dir: String): DataFrame =
    SimSearch.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 4, iters = 2, bucketWidth = 128L)

  /** Random-projection dimensionality reduction 64→8 (md5-derived fixed
    * hyperplanes, one fold dot product per output component).
    */
  def q49_random_projection(s: SparkSession, dir: String): DataFrame =
    SimSearch.randomProject(t(s, dir, "embeddings"), "vec_id", "embedding",
      outDim = 8)

  /** Z-order clustering value over (partkey, suppkey) + the 100 rows a
    * Z-sorted layout would place first — the OPTIMIZE ZORDER BY step of
    * lake maintenance, exact integer bit-interleave on both engines.
    */
  def q50_zorder(s: SparkSession, dir: String): DataFrame =
    Relational.sortLimit(
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        Relational.zorderValue(
          pmod(col("l_partkey"), lit(1024)).cast("int"),
          pmod(col("l_suppkey"), lit(1024)).cast("int"),
          bits = 10).as("zval")),
      Seq("zval", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      100)

  /** Hard-negative mining: per query vector, the 5 most similar
    * embeddings with a DIFFERENT label (contrastive-training prep).
    */
  def q51_hard_negatives(s: SparkSession, dir: String): DataFrame =
    SimSearch.hardNegatives(t(s, dir, "embeddings"), "vec_id", "embedding",
      "label", col("vec_id") < 10, k = 5)

  /** Per-language weighted quotas: 15 docs per lang, selection
    * ~proportional to length inside the class (stratified priority
    * sampling — the corpus-mixing step with per-source quotas).
    */
  def q52_stratified_priority(s: SparkSession, dir: String): DataFrame =
    Relational.stratifiedPrioritySample(
      t(s, dir, "documents").select("lang", "doc_id", "n_chars"),
      "lang", "doc_id", col("n_chars"), n = 15, seed = 11)

  /** Gate fixture for the loadable langId: a tiny Cavnar-Trenkle-shaped
    * char-trigram profile table. Weights are INTEGER-valued doubles so
    * score sums are exact in any association order — the oracle's
    * list_sum needs no IEEE-chain coordination.
    */
  val gateLangProfiles: Map[String, Map[String, Double]] = Map(
    "de" -> Map("der" -> 3.0, "die" -> 3.0, "und" -> 3.0, "sch" -> 2.0,
      "ein" -> 2.0),
    "en" -> Map("the" -> 3.0, "ing" -> 2.0, "and" -> 2.0, "he " -> 1.0),
    "es" -> Map("que" -> 3.0, "de " -> 2.0, "la " -> 2.0, "os " -> 2.0),
    "fr" -> Map("les" -> 3.0, "le " -> 2.0, "ent" -> 2.0, "ait" -> 2.0))

  /** Gate fixture for the loadable BPE: a valid bottom-up merge table
    * (each pair's constituent pieces are produced only by strictly
    * lower ranks), which is the class of table real BPE training
    * emits — and the property that makes rank-sequential global
    * replacement equal to the priority loop, so a SQL oracle can replay
    * the merges as a chain of string replaces over a char-marker
    * rendering.
    */
  val gateBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "in" -> "g", "e" -> "r")

  /** Gate fixture for the loadable unigram-LM tokenizer (q326): a
    * hand vocabulary with integer micro-nat costs — every lowercase
    * letter (so the unk path stays exercised only by digits/rare
    * chars) plus multi-char pieces tuned to the corpus vocabulary.
    * Like [[gateBpeMerges]], a FIXTURE model: learning is gated
    * separately (q325); apply must replay bit-identically under any
    * valid model.
    */
  val gateUnigramVocab: Map[String, Long] = Map(
    "a" -> 3000000L, "b" -> 3700000L, "c" -> 3500000L,
    "d" -> 3600000L, "e" -> 3000000L, "f" -> 3700000L,
    "g" -> 3700000L, "h" -> 3500000L, "i" -> 3500000L,
    "j" -> 3800000L, "k" -> 3700000L, "l" -> 3400000L,
    "m" -> 3600000L, "n" -> 3300000L, "o" -> 3300000L,
    "p" -> 3700000L, "q" -> 3900000L, "r" -> 3200000L,
    "s" -> 3100000L, "t" -> 3100000L, "u" -> 3600000L,
    "v" -> 3800000L, "w" -> 3600000L, "x" -> 3900000L,
    "y" -> 3700000L, "z" -> 3900000L,
    "jo" -> 2500000L, "in" -> 2200000L, "ha" -> 2600000L,
    "sh" -> 2600000L, "row" -> 2000000L, "sca" -> 2400000L,
    "an" -> 2300000L, "er" -> 2300000L, "ta" -> 2700000L,
    "ble" -> 2400000L, "col" -> 2500000L, "dat" -> 2400000L,
    "val" -> 2500000L, "ue" -> 2600000L, "key" -> 2000000L,
    "gro" -> 2500000L, "par" -> 2400000L, "fil" -> 2500000L,
    "ter" -> 2300000L, "mer" -> 2600000L, "ge" -> 2700000L,
    "tch" -> 2400000L, "agg" -> 2000000L, "str" -> 2400000L,
    "eam" -> 2500000L, "win" -> 2500000L, "dow" -> 2500000L,
    "spa" -> 2500000L, "rk" -> 2800000L, "qu" -> 2700000L,
    "ba" -> 2700000L, "slo" -> 2600000L, "sma" -> 2600000L,
    "ll" -> 2800000L)

  /** Merge-table BPE over the corpus (the loadable upgrade of q35's
    * regex stand-in): token count + the space-joined piece sequence, so
    * the oracle pins the exact segmentation, not just the count.
    */
  def q54_bpe_vocab(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextOps.tokenEstimateVocab(col("text"), gateBpeMerges)
        .as("n_tokens_vocab"),
      array_join(TextOps.tokensVocab(col("text"), gateBpeMerges), " ")
        .as("pieces"))

  /** Profile-based language ID over char trigrams (the loadable upgrade
    * of q20's marker flavor): per-language weight sums from typedLit map
    * probes, argmax with the alphabetical-first tie rule, plus one
    * exposed score so the oracle also pins the arithmetic.
    */
  def q53_langid_profile(s: SparkSession, dir: String): DataFrame = {
    val enScore = aggregate(col("grams"), lit(0.0),
      (acc, g) => acc +
        coalesce(element_at(typedLit(gateLangProfiles("en")), g), lit(0.0)))
    docs(s, dir)
      .select(col("doc_id"),
        TextOps.charGrams(lower(col("text")), 3).as("grams"))
      .select(col("doc_id"),
        TextOps.langIdProfile(col("grams"), gateLangProfiles)
          .as("lang_pred"),
        round(enScore, 6).as("score_en"))
  }

  /** Bloom-prefiltered decontamination (the 100 TB flavor of q42): eval
    * grams build a broadcast Bloom filter, the corpus grams probe it in
    * the scan stage, and only might-contaminated grams reach the exact
    * verify join — row-identical to the exact path (no false
    * negatives), so the exact SQL is the oracle.
    */
  def q55_decontaminate_bloom(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    val train = all.filter(col("doc_id") % 25 =!= 0)
    val eval = all.filter(col("doc_id") % 25 === 0)
    Dedup.decontaminateBloom(train, eval, "text", "doc_id", k = 4,
      fpp = 0.01, tokenizer = TextOps.tokensSimple)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Canonical-document selection: near-dup clusters (q29's pipeline)
    * keep their highest-QUALITY member instead of the minimal id — the
    * production survivor rule. The oracle replays clusters (recursive
    * CTE), quality (q20's arithmetic), and the (quality desc, id)
    * argmax.
    */
  def q56_keep_best(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.nearDupPairs(d, "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.5,
      tokenizer = TextOps.tokensSimple).select("id_a", "id_b")
    val ids = t(s, dir, "documents").select(col("doc_id").as("id"))
    val clusters = Dedup.clusterLabels(ids, pairs)
    val scored = d.select(col("doc_id"),
      TextOps.qualityScore(TextOps.tokensSimple(col("text"))).as("quality"))
    Dedup.keepBestInCluster(scored, clusters, "doc_id", col("quality"))
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("cluster"), col("quality"))
  }

  /** The full corpus-cleaning cascade as ONE operator (quality +
    * repetition filters → exact dedup → near dedup → decontamination);
    * the oracle replays every stage, including the near-dup recursive
    * closure rebased onto the filtered survivors.
    */
  def q57_clean_corpus(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    val train = all.filter(col("doc_id") % 50 =!= 0)
    val eval = all.filter(col("doc_id") % 50 === 0)
    graft.text.Pipeline.cleanCorpus(train, eval, "text", "doc_id",
      minQuality = 0.3, maxDupRatio = 0.01,
      shingleK = 3, bands = 8, rowsPerBand = 4,
      nearThreshold = 0.5, decontamK = 5,
      tokenizer = TextOps.tokensSimple)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** SemDedup: k-means cells (q48's deterministic trainer) block the
    * pairwise cosine at threshold 0.2, connected components collapse
    * groups, min-id member survives — embedding-space near-dedup with
    * candidate pairs formed ONLY inside a cell.
    */
  def q58_semdedup(s: SparkSession, dir: String): DataFrame =
    SimSearch.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.2, bucketWidth = 128L)
      .select("vec_id", "label")

  /** Sequence packing: q40's token shards assembled into one packed
    * training example per (lang, shard) — texts joined in doc-id order,
    * doc/token counts alongside. Aggregation state is bounded by the
    * shard budget, never by class size.
    */
  def q59_pack_sequences(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val shards = Relational.tokenShards(
      d.select(col("lang"), col("doc_id"),
        size(TextOps.tokensSimple(col("text"))).as("n_tokens")),
      "lang", "doc_id", "n_tokens", budget = 1000L, bucketWidth = 128L)
    Relational.packShards(shards, d, "lang", "doc_id", "text")
  }

  /** Contamination report (q42's observability twin): per eval doc, the
    * distinct training docs and distinct 5-grams it shares — clean eval
    * docs report 0/0.
    */
  def q60_contamination_report(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    val train = all.filter(col("doc_id") % 50 =!= 0)
    val eval = all.filter(col("doc_id") % 50 === 0)
    Dedup.contaminationReport(train, eval, "text", "doc_id", k = 5,
      tokenizer = TextOps.tokensSimple)
  }

  /** Gate fixture for the loadable-vocabulary OOV scorer: a small
    * common-token vocabulary (what a tokenizer's vocab induces).
    */
  val gateVocab: Seq[String] = Seq(
    "the", "a", "of", "and", "is", "to", "in", "it", "that", "for",
    "data", "spark", "model", "training", "with", "on", "as", "are",
    "this", "be")

  /** Vocabulary coverage per doc against the loaded gate vocab: token
    * count, OOV count, OOV rate — the tokenizer-coverage corpus filter.
    */
  def q61_oov_rate(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        TextOps.oovStats(TextOps.tokensSimple(col("text")), gateVocab)
          .as("o"))
      .select(col("doc_id"), col("o.n_tokens"), col("o.n_oov"),
        col("o.oov_rate"))

  /** Gate fixture: the canonical 80/10/10 split weights. */
  val gateSplits: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic hash split (reproducible train/val/test protocol):
    * per-doc seeded md5-uniform against cumulative weight bounds; the
    * oracle embeds the identical IEEE partial sums.
    */
  def q62_hash_split(s: SparkSession, dir: String): DataFrame =
    Relational.hashSplit(
      t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
      "doc_id", gateSplits, seed = 13L)

  /** Token-quota mixture sampling: each language contributes ~800
    * tokens chosen in seeded-random order (the corpus-mixing executor;
    * per-class budgets = mixture weights at scale).
    */
  def q63_token_quota(s: SparkSession, dir: String): DataFrame =
    Relational.tokenQuotaSample(
      docs(s, dir).select(col("lang"), col("doc_id"),
        size(TextOps.tokensSimple(col("text"))).as("n_tokens")),
      "lang", "doc_id", "n_tokens", budget = 800L, seed = 17L)

  /** Corpus composition report per language: docs, token/char totals,
    * distinct sources (integer-exact aggregates).
    */
  def q64_corpus_stats(s: SparkSession, dir: String): DataFrame =
    TextOps.corpusStats(t(s, dir, "documents"), "lang", "text", "source",
      tokenizer = TextOps.tokensSimple)

  /** Recall@k acceptance harness as a gate query: q18's ANN ranking
    * scored against the exact brute-force baseline on the same query
    * set — per query, how many of the true top-5 the index recovered.
    * The number a user reads before trusting an index build; the oracle
    * replays BOTH searchers and the intersection count.
    */
  def q65_ann_recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val pred = col("vec_id") < 50
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding",
      pred, k = 5)
    val approx = SimSearch.annTopK(emb, "vec_id", "embedding", pred,
      k = 5, planes = 6, dim = 64)
    SimSearch.recallAtK(approx, exact, k = 5)
  }

  /** Corpus-level line dedup (the C4/MassiveText boilerplate filter):
    * spans occurring in more than 2 documents drop from every document,
    * survivors reassemble in order. The fixture corpus has no newlines,
    * so the gate splits on the literal " a " — with the tiny synthetic
    * vocabulary those spans repeat heavily across docs, exercising the
    * hot-set join, the exemption rule and the reassembly for real.
    */
  def q66_line_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupLines(docs(s, dir), "text", "doc_id",
      delimiter = " a ", maxDocs = 2, minChars = 3)

  /** Temperature-weighted mixture sampling at alpha = 0.5 (the only
    * alpha whose weight function — sqrt — is IEEE-pinned, so the whole
    * quota chain replays exactly in SQL): each language keeps
    * floor(200·√n_c / Σ√n) docs in seeded-hash order.
    */
  def q67_temperature_mix(s: SparkSession, dir: String): DataFrame =
    Relational.temperatureSample(
      t(s, dir, "documents").select("lang", "doc_id"),
      "lang", "doc_id", alpha = 0.5, budgetDocs = 200L, seed = 23L)

  /** Temperature mixing budgeted in TOKENS (the realistic unit): each
    * language contributes floor(10000·√T_c / Σ√T) tokens of docs in
    * seeded-hash order, boundary doc included.
    */
  def q68_temperature_tokens(s: SparkSession, dir: String): DataFrame =
    Relational.temperatureTokenSample(
      docs(s, dir).select(col("lang"), col("doc_id"),
        size(TextOps.tokensSimple(col("text"))).as("n_tokens")),
      "lang", "doc_id", "n_tokens", alpha = 0.5,
      budgetTokens = 10000L, seed = 29L)

  /** Normalized exact dedup (the CCNet-style first pass): the corpus is
    * unioned with UPPERCASED twins (ids offset) so the gate proves the
    * normalized key collapses trivially-mutated copies raw hashing
    * would keep — every group must show n_dups = 2 with the original
    * (lower) id surviving.
    */
  def q69_normalized_dedup(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val mangled = base.select((col("doc_id") + 100000L).as("doc_id"),
      upper(col("text")).as("text"))
    Dedup.exactNormalized(base.union(mangled), "text", "doc_id")
  }

  /** Within-document span dedup (intra-doc repetition cleanup): every
    * repeated " a "-delimited span keeps its first occurrence only —
    * pure scan-stage array algebra, the word-soup fixture repeats
    * spans within docs heavily.
    */
  def q70_span_dedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextOps.dedupSpansInDoc(col("text"), " a ").as("clean_text"))

  /** Cross-corpus near-dup pairs (fuzzy text join): the corpus split by
    * doc-id parity into a "left" and "right" source; pairs form only
    * ACROSS the split — the new-drop-vs-reference alignment shape.
    */
  def q71_fuzzy_join(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    Dedup.nearDupPairsBetween(
      all.filter(col("doc_id") % 2 === 0),
      all.filter(col("doc_id") % 2 =!= 0),
      "text", "doc_id", shingleK = 3, bands = 8, rowsPerBand = 4,
      threshold = 0.2, tokenizer = TextOps.tokensSimple)
  }

  /** Dedup observability report: the cluster-size histogram of q29's
    * near-dup clusters — how much duplication mass a dedup run would
    * remove, by cluster size.
    */
  def q74_dedup_report(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDupPairs(docs(s, dir), "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.5,
      tokenizer = TextOps.tokensSimple)
      .select("id_a", "id_b")
    val ids = t(s, dir, "documents").select(col("doc_id").as("id"))
    Dedup.clusterSizeHistogram(Dedup.clusterLabels(ids, pairs))
  }

  /** Packed sequences WITH loader metadata: q59's shards assembled with
    * member ids + exclusive per-doc token offsets (the attention/loss
    * masking boundaries). Arrays project to CSV strings for the gate
    * compare; the operator itself emits typed arrays.
    */
  def q73_pack_offsets(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val shards = Relational.tokenShards(
      d.select(col("lang"), col("doc_id"),
        size(TextOps.tokensSimple(col("text"))).as("n_tokens")),
      "lang", "doc_id", "n_tokens", budget = 1000L, bucketWidth = 128L)
    Relational.packShardsWithOffsets(shards, d, "lang", "doc_id", "text")
      .select(col("lang"), col("shard"), col("n_docs"),
        col("shard_tokens"),
        array_join(col("doc_ids"), ",").as("doc_ids_csv"),
        array_join(col("doc_offsets"), ",").as("doc_offsets_csv"),
        col("packed_text"))
  }

  /** Compression-ratio quality signal (zlib-dependent, so rows-only
    * like q26 — no cross-engine oracle exists by design). The query
    * SELF-ASSERTS the semantics: every ratio must land in (0, 2], and
    * a doubled doc must compress strictly better relative to its
    * length than the original — the property the spam filter relies
    * on.
    */
  def q72_compression_ratio(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir).select(col("doc_id"),
      round(TextOps.compressionRatio(col("text")), 6)
        .as("compression_ratio"),
      round(TextOps.compressionRatio(
        concat_ws(" ", col("text"), col("text"))), 6).as("_doubled"))
    val bad = scored.filter(
      col("compression_ratio") <= 0.0 || col("compression_ratio") > 2.0 ||
        col("_doubled") >= col("compression_ratio")).count()
    require(bad == 0,
      s"$bad docs violate the compression-ratio invariants")
    scored.select(col("doc_id"), col("compression_ratio"))
  }

  /** The Gopher corpus-curation rules as a per-doc quality report: word
    * count / mean word length bands, symbol + bullet + ellipsis ratios,
    * alphabetic-word fraction, stopword presence, and the composite
    * `pass`. minWords is lowered to 10 so the word-soup fixture
    * exercises both outcomes.
    */
  def q75_gopher_rules(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextOps.gopherRules(col("text"), minWords = 10).as("g"))
      .select(col("doc_id"), col("g.n_words"), col("g.mean_word_len"),
        col("g.symbol_ratio"), col("g.bullet_line_ratio"),
        col("g.ellipsis_line_ratio"), col("g.alpha_word_ratio"),
        col("g.n_stopwords"), col("g.pass"))

  /** DSIR importance weights: every doc scored by how much its hashed
    * token mix resembles the English subset (the target) vs the whole
    * corpus (raw) — integer micro-nat weights, threshold selection.
    */
  def q76_dsir(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    graft.text.Dsir.importanceWeights(
      all, all.filter(col("lang") === "en"), "text", "doc_id",
      buckets = 64)
  }

  /** CCNet-style LM quality scoring: every doc's bigram NLL under a
    * hashed bigram model fit on the English subset — low avg_nll =
    * target-like (the perplexity-filtering signal).
    */
  def q77_lm_score(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    graft.text.NgramLm.bigramNll(
      all, all.filter(col("lang") === "en"), "text", "doc_id",
      buckets = 64)
  }

  /** BM25 ranked retrieval: three bag-of-terms queries over the corpus,
    * top-10 each — inverted index + micro-snapped idf/tf-norm, exact
    * BIGINT scores (graft.text.Bm25; the retrieval step beyond q44's
    * tf-idf weights).
    */
  def q78_bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (1L, "spark"), (1L, "join"), (1L, "window"),
      (2L, "slow"), (2L, "query"), (2L, "filter"),
      (3L, "customer"), (3L, "order"), (3L, "the"))
      .toDF("query_id", "term")
    graft.text.Bm25.search(docs(s, dir), "text", "doc_id",
      queries, "query_id", k = 10)
  }

  /** Domain-scoped boilerplate removal (the CCNet flavor of q66): a
    * span is boilerplate only when it repeats across >1 docs of the
    * SAME source — hot-set keyed (source, line_hash).
    */
  def q79_line_dedup_by_source(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupLinesPerGroup(docs(s, dir), "text", "doc_id", "source",
      delimiter = " a ", maxDocs = 1, minChars = 3)

  /** Key-skew profile of lineitem's supplier key: the top-20 heavy
    * hitters with counts and corpus share — the pre-join diagnostic
    * behind the salting/broadcast/AQE-skew decision.
    */
  def q80_key_skew(s: SparkSession, dir: String): DataFrame =
    Diagnose.keySkew(t(s, dir, "lineitem").select("l_suppkey"),
      "l_suppkey", topK = 20)

  /** Source-overlap matrix: pairwise estimated Jaccard between the 20
    * sources' shingle-set UNIONS via per-source folded MinHash — the
    * which-crawls-mirror-each-other observability report.
    */
  def q81_source_similarity(s: SparkSession, dir: String): DataFrame =
    Dedup.groupSimilarity(docs(s, dir), "text", "source",
      numHashes = 32, shingleK = 3)

  /** Fill-in-the-middle example construction: deterministic seeded
    * two-point split of every doc into (prefix, middle, suffix).
    */
  def q82_fim_split(s: SparkSession, dir: String): DataFrame =
    TextOps.fimSplit(docs(s, dir), "text", "doc_id", seed = 17L)

  /** JSONL ingest roundtrip: documents exported to JSON-Lines
    * ([[graft.operators.Export.jsonl]]) and read back schema-enforced
    * with corrupt-line quarantine ([[graft.sources.Jsonl]]). The
    * readback's per-lang aggregate must hash-match the oracle's
    * DIRECT-parquet aggregate — the roundtrip is identity on this
    * long/string schema, so unlike q26 this sink+source pair gets a
    * full value gate, including an md5 content checksum over every
    * text field that would catch any escaping loss.
    */
  def q83_jsonl_roundtrip(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Files.createTempDirectory("graft_jsonl")
    try {
      val out = base.resolve("docs").toString
      val d = t(s, dir, "documents")
      Export.jsonl(d, out, shards = 8)
      val back = graft.sources.Jsonl.read(s, out, d.schema)
      val health = graft.sources.Jsonl.health(back).collect()(0)
      require(health.getLong(1) == 0L,
        s"clean corpus roundtrip quarantined lines: $health")
      val agg = graft.sources.Jsonl.clean(back)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum(TextOps.hash32(col("text"))).as("text_hash_sum"),
          min("doc_id").as("min_doc_id"),
          max("doc_id").as("max_doc_id"))
      // materialize before the finally deletes the files it reads from
      val collected = agg.collect().toIndexedSeq
      s.createDataFrame(
        new java.util.ArrayList(collected.asJava), agg.schema)
    } finally {
      java.nio.file.Files.walk(base).sorted(
        java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
  }

  /** Per-source corpus drift: KL(source ‖ corpus) over hashed token
    * buckets — which crawl's token mix has wandered furthest from the
    * blend (the distribution-shift observability twin of q81's overlap
    * matrix; micro-nat-exact against the SQL oracle).
    */
  def q84_source_divergence(s: SparkSession, dir: String): DataFrame =
    graft.text.Dsir.groupDivergence(docs(s, dir), "text", "source",
      buckets = 64)

  /** Latest-record-wins upsert: a CDC-style corrections batch (every
    * 5th event, 1h newer, value bumped, type rewritten) merged into the
    * events base — one union + argmax-by-struct aggregation, no window.
    * The oracle states the EXPECTED OUTCOME (updated rows replace
    * originals) rather than replaying the merge, so it independently
    * checks the semantics.
    */
  def q85_upsert_merge(s: SparkSession, dir: String): DataFrame = {
    // normalize ts to a real timestamp whatever the parquet flavor
    // (nanos-long vintage or native TIMESTAMP) so the version is
    // time-typed either way
    val base = graft.streaming.EventOps.normalizeTs(t(s, dir, "events"))
    val updates = base.filter(col("event_id") % 5 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      .withColumn("event_type", lit("corrected"))
      .withColumn("value", col("value") + lit(1.0))
    Ingest.upsert(base, updates, Seq("event_id"), "ts")
  }

  /** Deterministic global shuffle: every doc's seeded shuffle position,
    * round-robin shard, and within-shard position — the reproducible
    * training-order layout (two-level prefix sum, no global window; the
    * oracle replays it with one row_number()).
    */
  def q86_global_shuffle(s: SparkSession, dir: String): DataFrame =
    Relational.globalShuffle(docs(s, dir), "doc_id", seed = 41L,
      shards = 8)

  /** The q87 model: a loadable linear classifier in the file format
    * [[graft.text.Classifier.parse]] reads (here authored inline; a
    * real pipeline ships the trained weights as a sidecar file).
    */
  private lazy val qualityModel = graft.text.Classifier.parse(Seq(
    "# toy prose-vs-junk quality model over the synthetic vocabulary",
    "__bias__ -0.15",
    "the 0.25", "a 0.18", "data 0.12", "query 0.10", "table 0.08",
    "join 0.06", "slow -0.22", "dup -0.35", "batch -0.08"))

  /** Linear (fasttext-style) quality classifier apply: every doc's
    * mean token weight + bias, keep iff logit > 0 — integer-micro
    * weight sums so the oracle replays the decision exactly; the keep
    * test is a pure BIGINT sign check, never a float boundary.
    */
  def q87_quality_classifier(s: SparkSession, dir: String): DataFrame =
    graft.text.Classifier.score(docs(s, dir), "text", "doc_id",
      qualityModel)

  /** CCNet-style perplexity buckets: q77's bigram-LM scores ranked per
    * language and cut into head/middle/tail thirds — the
    * quality-stratification a CCNet pipeline keys retention on.
    * Two-level prefix-sum ranking, integer-exact cuts.
    */
  def q88_ccnet_buckets(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    val scored = graft.text.NgramLm.bigramNll(
      all, all.filter(col("lang") === "en"), "text", "doc_id",
      buckets = 64)
    val withLang = scored.filter(col("avg_nll").isNotNull)
      .join(all.select("doc_id", "lang"), Seq("doc_id"))
    Relational.percentileBuckets(withLang, "lang", "doc_id", "avg_nll")
  }

  /** Banded hamming near-dup pairs over q21's SimHash fingerprints
    * (Manku et al.): 4 bit-slices bucket the candidates, popcount
    * verifies — pigeonhole makes the result EXACTLY all pairs within
    * 1 bit, which is what the oracle's brute-force join states. The
    * same operator pairs image dHashes (Multimodal.dHash).
    */
  def q89_simhash_pairs(s: SparkSession, dir: String): DataFrame = {
    val fp = docs(s, dir).select(col("doc_id"),
      TextOps.simhash(TextOps.tokensSimple(col("text")), bits = 16)
        .as("simhash16"))
    Dedup.hammingNearDupPairs(fp, "doc_id", "simhash16",
      fpBits = 16, bands = 4, maxBits = 1)
  }

  /** Per-label embedding diversity: member count, centroid norm, and
    * mean member-to-centroid cosine per label — the embedding-space
    * collapse report (micro-snapped cosines over meanVectors
    * centroids, so the SQL oracle replays it exactly).
    */
  def q90_embedding_diversity(s: SparkSession, dir: String): DataFrame =
    SimSearch.groupDiversity(t(s, dir, "embeddings"),
      "label", "vec_id", "embedding", dim = 64, bucketWidth = 128L)

  /** UniMax-allocated token sampling: budget 40k at a 2-epoch cap —
    * at sf0.01 the four tail languages cap (whole class kept) and `en`
    * waterfills the remainder, so both allocation branches execute.
    * Pure-BIGINT waterfall, oracle-replayed.
    */
  def q91_unimax_sample(s: SparkSession, dir: String): DataFrame =
    Relational.unimaxTokenSample(
      docs(s, dir).select(col("lang"), col("doc_id"),
        size(TextOps.tokensSimple(col("text"))).as("n_tokens")),
      "lang", "doc_id", "n_tokens", budgetTokens = 40000L,
      epochsCap = 2, seed = 31L)

  /** Exact shared spans (Lee et al. substring dedup signal): maximal
    * runs of matching 5-gram diagonals between doc pairs, >= 7 tokens
    * — relational suffix-array-free formulation, hot grams capped.
    */
  def q92_shared_spans(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedSpans(docs(s, dir), "text", "doc_id",
      k = 5, minLen = 7, maxDf = 20)

  /** Shared-span REMOVAL (q92's apply step): every doc rebuilt with
    * its higher-id span occurrences excised, lowest id keeps the text.
    */
  def q93_remove_spans(s: SparkSession, dir: String): DataFrame =
    Dedup.removeSharedSpans(docs(s, dir), "text", "doc_id",
      k = 5, minLen = 7, maxDf = 20)

  /** Leakage-safe split: q29's near-dup clusters split as UNITS (the
    * hash keys on the cluster representative), so near-duplicate docs
    * can never straddle train/test — the contamination-proof protocol.
    */
  def q94_cluster_safe_split(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterSafeSplit(
      docs(s, dir).select(col("doc_id"), col("text"), col("lang")),
      "text", "doc_id", gateSplits, seed = 13L,
      tokenizer = TextOps.tokensSimple)
      .select(col("doc_id"), col("lang"), col("cluster"), col("split"))

  /** Per-language tokenizer fertility: whitespace tokens vs loadable
    * BPE pieces, chars per token — the cost-per-language table mixture
    * owners budget with.
    */
  def q95_tokenizer_fertility(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenizerFertility(docs(s, dir), "text", "lang", "n_chars",
      gateBpeMerges)

  /** Packing-efficiency report over q40's shards: per-language shard
    * count, fills, and utilization — the padding-waste observability
    * number for the sequence packer.
    */
  def q96_packing_stats(s: SparkSession, dir: String): DataFrame =
    Relational.packingStats(q40_token_shards(s, dir), "lang", "shard",
      "n_tokens", budget = 1000L)

  /** Semantic decontamination: corpus vectors cosine-matched against
    * the mod-25 "eval benchmark" subset, matches dropped — the
    * embedding tier of the q42/q55 decontamination family (catches
    * paraphrases n-grams cannot). Unrounded kernel-chain threshold,
    * replayed exactly by the SQL fold.
    */
  def q97_semantic_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    SimSearch.semanticDecontaminate(
      emb.filter(col("vec_id") % 25 =!= 0),
      emb.filter(col("vec_id") % 25 === 0),
      "vec_id", "embedding", threshold = 0.4)
      .select(col("vec_id"), col("label"))
  }

  /** Per-source frequency cap (the C4/RefinedWeb domain cap): at most
    * 15 docs survive per source, chosen by seeded-hash rank — no
    * crawl-heavy domain can dominate the mixture. Two-level prefix-sum
    * ranking; the oracle replays the md5 order as a window.
    */
  def q98_source_cap(s: SparkSession, dir: String): DataFrame =
    Relational.keyCapSample(
      docs(s, dir).select(col("source"), col("doc_id")),
      "source", "doc_id", cap = 15L, seed = 29L)

  /** Per-document removal audit over the q57 cascade: one row per
    * training doc with the FIRST tier that removed it — `quality`
    * (quality/repetition gate), `exact` (content-hash dup), `near_dup`
    * (lost its cluster to a smaller-id rep), `contaminated` (eval
    * 5-gram overlap) — or `kept`. Same thresholds as q57, so the
    * `kept` rows are exactly q57's survivor ids: the lineage report a
    * curation run ships next to its output corpus.
    */
  def q99_removal_audit(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    val train = all.filter(col("doc_id") % 50 =!= 0)
    val eval = all.filter(col("doc_id") % 50 === 0)
    graft.text.Pipeline.removalAudit(train, eval, "text", "doc_id",
      minQuality = 0.3, maxDupRatio = 0.01,
      shingleK = 3, bands = 8, rowsPerBand = 4,
      nearThreshold = 0.5, decontamK = 5,
      tokenizer = TextOps.tokensSimple)
  }

  /** Per-source distinct 3-gram cardinality via the KMV sketch
    * aggregate — the distinct-count that never shuffles distinct
    * values: bounded k-min-hash state built map-side from the raw gram
    * stream, merged as set union. The gate hash-compares the SKETCH
    * (k smallest md5 hash32 values) plus the derived estimate, so the
    * oracle replays the whole mechanism, not just the number.
    */
  def q100_kmv_distinct(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        TextOps.shingles(TextOps.tokensSimple(col("text")), 3).as("_g"))
      .groupBy(col("source"))
      .agg(TextOps.kmvSketch(col("_g"), 128).as("_sk"))
      .select(col("source"),
        size(col("_sk")).cast("long").as("k_actual"),
        element_at(col("_sk"), -1).as("kth"),
        TextOps.kmvEstimate(col("_sk"), 128).as("est_distinct"))

  /** Pairwise source overlap from KMV sketches (q100's artifact):
    * merged-sketch Jaccard + union-cardinality estimates per source
    * pair, with no gram join anywhere — the sketches are the only
    * thing that moves. Complements q81's exact gram-join similarity:
    * at 100 TB you run THIS, and fall back to q81 only for the pairs
    * the sketch flags.
    */
  def q101_sketch_overlap(s: SparkSession, dir: String): DataFrame = {
    val sk = docs(s, dir)
      .select(col("source"),
        TextOps.shingles(TextOps.tokensSimple(col("text")), 3).as("_g"))
      .groupBy(col("source"))
      .agg(TextOps.kmvSketch(col("_g"), 128).as("_sk"))
    val a = sk.select(col("source").as("source_a"), col("_sk").as("_ska"))
    val b = sk.select(col("source").as("source_b"), col("_sk").as("_skb"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        TextOps.kmvOverlap(col("_ska"), col("_skb"), 128).as("_o"))
      .select(col("source_a"), col("source_b"),
        col("_o.m_size").as("m_size"), col("_o.n_both").as("n_both"),
        col("_o.est_jaccard").as("est_jaccard"),
        col("_o.est_union").as("est_union"))
  }

  /** Probe terms for the q102 CMS gate: frequent corpus words plus one
    * absent term (its estimate exposes pure collision noise).
    */
  val cmsProbeTerms: Seq[String] =
    Seq("join", "hash", "scan", "customer", "window", "zzz_absent")

  /** Corpus-wide token-frequency estimation via the Count-Min sketch
    * aggregate (additive counters, map-side partials, fixed 4×1024
    * state) probed for a fixed term list, with exact counts alongside:
    * the overcount-only guarantee is visible in the result
    * (est_count ≥ exact_count, row for row). The heavy-hitter answer
    * q43's full vocab groupBy pays a corpus-wide shuffle for, at
    * sketch cost.
    */
  def q102_cms_freq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val sk = d
      .select(TextOps.tokensSimple(col("text")).as("_t"))
      .agg(TextOps.cmsSketch(col("_t"), 4, 1024).as("_sk"))
    val probes = cmsProbeTerms.toDF("term")
    val exact = d
      .select(explode(TextOps.tokensSimple(col("text"))).as("term"))
      .filter(col("term").isin(cmsProbeTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("_c"))
    probes
      .crossJoin(broadcast(sk))
      .join(exact, Seq("term"), "left")
      .select(col("term"),
        TextOps.cmsEstimate(col("_sk"), col("term"), 4, 1024)
          .as("est_count"),
        coalesce(col("_c"), lit(0L)).as("exact_count"))
  }

  /** Exact phrase retrieval over the positional inverted index: docs
    * containing the two-word phrase "table scan" with match counts and
    * first positions — the chain-of-equi-joins shape that replaces a
    * corpus regex rescan at scale (a persisted term-partitioned index
    * prunes to the phrase's terms).
    */
  def q103_phrase_search(s: SparkSession, dir: String): DataFrame =
    graft.text.Bm25.phraseSearchDocs(docs(s, dir), "text", "doc_id",
      Seq("table", "scan"))

  /** Sketch-tier distribution summary: per-flag price quantiles from a
    * bottom-k-by-hash uniform row sample (256 pairs of bounded state
    * per group, map-side partials, mergeable) instead of q36's exact
    * percentile buffers — the distributional-observability shape that
    * survives 100 TB groups. The estimates are sampled values carried
    * verbatim, so the oracle replays them exactly.
    */
  def q104_sample_quantiles(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val rowHash = TextOps.hash32(
      concat_ws(":", col("l_orderkey"), col("l_linenumber")))
    li.groupBy(col("l_returnflag"))
      .agg(
        Relational.bottomKSample(rowHash, col("l_extendedprice"), 256)
          .as("_sk"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("n_rows"),
        size(col("_sk")).as("m"),
        Relational.sampleQuantile(col("_sk"), 0.5).as("p50_est"),
        Relational.sampleQuantile(col("_sk"), 0.9).as("p90_est"),
        Relational.sampleQuantile(col("_sk"), 0.99).as("p99_est"))
  }

  /** BPE merge LEARNING over the corpus (the training side of q54's
    * loadable merge-table tokenizer): two rounds of
    * most-frequent-adjacent-pair selection with deterministic
    * tie-breaks, each applied greedily before the next round counts.
    * Iterations run on the distinct-word table, so corpus size buys
    * one scan, not one per round.
    */
  def q105_bpe_learn(s: SparkSession, dir: String): DataFrame =
    TextOps.learnBpeMerges(docs(s, dir), "text", rounds = 2)

  /** Unigram-LM (SentencePiece, Kudo 2018) vocabulary LEARNING over
    * the corpus — the alternative tokenizer family beside q105's BPE:
    * substring seeding (all chars + the 40 most frequent multi-char
    * candidates), one hard-EM round (Viterbi-segment every distinct
    * word under seed costs, re-count), exact integer counts and one
    * micro-nat cost chain. The oracle replays seeding, the unrolled
    * Viterbi lattice, and the re-estimation step for step.
    */
  def q325_unigram_learn(s: SparkSession, dir: String): DataFrame =
    TextOps.learnUnigramLm(docs(s, dir), "text",
      vocabSize = 40, maxPieceLen = 3, iters = 1)

  /** The unigram-LM EM loop ITERATING under the oracle: two hard-EM
    * rounds (q325 gates one) — the second round re-segments every
    * word under the costs the first round produced, so the gate pins
    * the loop's coupling (costs feed segmentation feeds counts), not
    * just one step. Same seeding and chains; the oracle unrolls the
    * Viterbi lattice TWICE against the successive models.
    */
  def q330_unigram_em2(s: SparkSession, dir: String): DataFrame =
    TextOps.learnUnigramLm(docs(s, dir), "text",
      vocabSize = 40, maxPieceLen = 3, iters = 2)

  /** Unigram-LM APPLY under the oracle (q54's loadable-model twin for
    * the unigram family): segment every document into minimum-cost
    * pieces under the [[gateUnigramVocab]] fixture — piece count plus
    * the space-joined sequence, so the oracle pins the exact
    * segmentation (Viterbi argmin, longest-piece-from-the-end ties,
    * unk fallback), not just the count.
    */
  def q326_unigram_apply(s: SparkSession, dir: String): DataFrame =
    TextOps.tokensUnigram(docs(s, dir), "text", "_p",
      gateUnigramVocab)
      .select(col("doc_id"), size(col("_p")).cast("long").as("n_pieces"),
        array_join(col("_p"), " ").as("pieces"))

  /** Product-quantization fit + encode (the IVF-PQ memory tier): two
    * 32-dim subspaces each get a deterministic-Lloyd codebook (k=4,
    * 2 iterations — the q48 discipline per subspace), then every
    * vector is replaced by its per-subspace nearest-centroid codes
    * with reconstruction error. Codes are what a 100 TB index stores —
    * raw vectors never load at serve time.
    */
  def q106_pq_encode(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = SimSearch.pqFit(emb, "vec_id", "embedding",
      m = 2, k = 4, iters = 2, dim = 64, bucketWidth = 128L)
    SimSearch.pqEncode(emb, cb, "vec_id", "embedding", m = 2, dim = 64)
  }

  /** Per-doc novelty in id order: the fraction of each doc's distinct
    * 3-grams it introduces to the corpus — the diminishing-returns
    * signal for crawl snapshots and the curriculum-ordering input.
    */
  def q107_novelty(s: SparkSession, dir: String): DataFrame =
    TextOps.noveltyScore(docs(s, dir), "text", "doc_id", k = 3)

  /** Per-source unigram entropy in integer micro-nats: the
    * templatedness/diversity observability report (an entropy-collapsed
    * source is boilerplate or spam).
    */
  def q108_source_entropy(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramEntropy(docs(s, dir), "text", "source")

  /** Robust per-flag price outlier report: median/MAD screening (the
    * heavy-tail-proof data-quality check) with the decision chain
    * snapped to 6 decimals so it replays exactly.
    */
  def q109_robust_outliers(s: SparkSession, dir: String): DataFrame =
    Relational.robustOutliers(t(s, dir, "lineitem"),
      Seq("l_returnflag"), "l_extendedprice", c = 3.0)

  /** Ordered view→click→purchase funnel over the events stream:
    * greedy-earliest stage times per user, one filtered min-aggregation
    * per stage — no windows, no per-user sorts.
    */
  def q110_funnel(s: SparkSession, dir: String): DataFrame =
    EventOps.funnel(t(s, dir, "events"),
      Seq("view", "click", "purchase"))

  /** Per-doc top-3 keywords by tf-idf (windowless two-phase top-k over
    * the q44 scores): the doc-level topical summary for faceting and
    * weak topic labels.
    */
  def q111_keywords(s: SparkSession, dir: String): DataFrame =
    TextOps.topTerms(docs(s, dir), "text", "doc_id", k = 3,
      TextOps.tokensSimple)

  /** Day-N cohort retention over the events table: users bucketed by
    * first-seen UTC day, per-offset active fractions — the engagement
    * decay curve, computed without windows.
    */
  def q112_retention(s: SparkSession, dir: String): DataFrame =
    EventOps.retention(t(s, dir, "events"))

  /** Event-rate anomaly screen: daily per-type event counts pushed
    * through the median/MAD outlier report — which days' traffic is
    * abnormal for each event type. Pure composition of two gated
    * operators (dailyTypeCounts ∘ robustOutliers).
    */
  def q113_rate_anomalies(s: SparkSession, dir: String): DataFrame =
    Relational.robustOutliers(
      EventOps.dailyTypeCounts(t(s, dir, "events"))
        .select(col("event_type"), col("n")),
      Seq("event_type"), "n", c = 3.0)

  /** Snapshot diff audit: the documents table against a deterministic
    * "next crawl" derived from it (every 10th doc dropped, every 7th
    * mutated, every 13th re-added under a new id) — per-doc
    * added/removed/changed/unchanged status via digest-only full outer
    * join.
    */
  def q114_corpus_diff(s: SparkSession, dir: String): DataFrame = {
    val old = t(s, dir, "documents")
    val v2 = old.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(old.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(100000L)))
    Relational.corpusDiff(old, v2, "doc_id", "text")
  }

  /** Multi-granularity totals via ROLLUP: per (flag, status) sums plus
    * per-flag subtotals plus the grand total in one pass — the Expand-
    * based plan Spark generates for grouping sets.
    */
  def q115_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"))

  /** Vocabulary coverage curve over the corpus: every token's rank and
    * the cumulative occurrence fraction a rank-truncated vocab covers.
    */
  def q116_vocab_coverage(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabCoverage(docs(s, dir), "text")

  /** Modality coverage audit: per source, how many docs have an
    * aligned embedding row — the missing-modality report a multimodal
    * pipeline runs before training (left anti-join semantics via one
    * left join + null count).
    */
  def q117_modality_coverage(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // ids-only probe: no per-row vector math, keep the bare scan
    val e = t(s, dir, "embeddings").select(col("vec_id"))
    d.join(e, d("doc_id") === e("vec_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("vec_id").isNotNull, 1L).otherwise(0L))
          .as("n_with_embedding"))
      .select(col("source"), col("n_docs"), col("n_with_embedding"),
        round(col("n_with_embedding").cast("double") /
          col("n_docs").cast("double"), 6).as("coverage"))
  }

  /** Sliding 2h windows advancing every 30min over the events stream:
    * each event lands in 4 overlapping windows — the moving-rate view.
    */
  def q118_sliding_window(s: SparkSession, dir: String): DataFrame =
    EventOps.slidingAgg(t(s, dir, "events"))

  /** Term-level drift: Fightin'-Words log-odds (informative Dirichlet
    * prior) between the even- and odd-id halves of the corpus — WHICH
    * WORDS are over-represented where, in micro-nats.
    */
  def q119_fightin_words(s: SparkSession, dir: String): DataFrame =
    TextOps.fightinWords(docs(s, dir), "text",
      sliceTwo = col("doc_id") % 2 === 1)

  /** Sketch-tier robust outlier screen: q109's median/MAD report from
    * ONE bottom-k-sample aggregation pass (bounded per-group state)
    * instead of three exact-percentile scans — the flavor that
    * survives 100 TB groups. Sampled values replay verbatim (q104
    * discipline) and the outlier-count estimate is pure integer
    * arithmetic, so the whole row hash-gates.
    */
  def q120_outliers_approx(s: SparkSession, dir: String): DataFrame =
    Relational.robustOutliersApprox(t(s, dir, "lineitem"),
      Seq("l_returnflag"), "l_extendedprice",
      TextOps.hash32(concat_ws(":", col("l_orderkey"),
        col("l_linenumber"))), k = 256, c = 3.0)

  /** Full IVFADC-R serving chain (the q27 IVF probe × the q106 PQ
    * codes × exact re-rank): ADC picks 40 candidates per query from
    * codes alone, the candidates join back to raw vectors for exact
    * cosine final top-5. Every stage is deterministic (id-seeded
    * Lloyd, bucketed folds, fixed tie-breaks), so the whole recipe —
    * codebook fit, encode, cell probe, ADC, re-rank — hash-gates
    * against a SQL replay.
    */
  def q121_ivfpq_refined(s: SparkSession, dir: String): DataFrame = {
    // in-query index build (the gate artifact; production persists via
    // writePqIndex) — every model stage feeds 2+ downstream consumers, so
    // each caches lazily: emb would otherwise re-scan per stage and the
    // Lloyd-derived codebooks/centroids would re-run their whole
    // iteration chain per consumer
    val emb = t(s, dir, "embeddings").withColumn("cell", col("label"))
      .persist()
    val cb = SimSearch.pqFit(emb, "vec_id", "embedding",
      m = 2, k = 4, iters = 2, dim = 64, bucketWidth = 128L).persist()
    val codes = SimSearch.pqEncode(emb, cb, "vec_id", "embedding",
      m = 2, dim = 64)
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .persist()
    val centroids = SimSearch.ivfCentroids(emb, "vec_id", "embedding",
      "cell", dim = 64, bucketWidth = 128L).persist()
    val queries = emb.filter(col("vec_id") < 20)
    SimSearch.rerankExact(SimSearch.ivfPqTopK(codes, cb, centroids,
      queries, "vec_id", "embedding", "vec_id", m = 2, k = 40,
      nprobe = 2, dim = 64), queries, emb, "vec_id", "embedding",
      "vec_id", k = 5)
  }

  /** Embedding-space drift monitor between crawl snapshots: the
    * current embeddings against a deterministic "next crawl" (every
    * 5th vector dropped, every 7th component-reversed) — per-label
    * counts and the cosine between old and new mean vectors, both
    * from the bounded id-bucketed fold (q27's centroid discipline, so
    * the whole report replays in SQL).
    */
  def q122_embedding_drift(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val v2 = emb.filter(col("vec_id") % 5 =!= 0)
      .withColumn("embedding", when(col("vec_id") % 7 === 0,
        reverse(col("embedding"))).otherwise(col("embedding")))
    SimSearch.groupEmbeddingDrift(emb, v2, "vec_id", "embedding",
      "label", dim = 64, bucketWidth = 128L)
  }

  /** TRUE IVFADC serving chain — q121 with RESIDUAL codes (Jégou et
    * al. 2011 §IV): codebooks are fit on `x − centroid(cell)` instead
    * of raw vectors, concentrating the whole code budget on
    * within-cell variance, and the ADC lookup table becomes
    * per-(query, probed cell) because each cell re-frames the query
    * into its own residual space. Candidate pool quality improves at
    * identical m/k (IvfSpec pins the recall lift vs the raw flavor);
    * exact cosine re-rank finishes the top-5 as in q121. Every stage
    * stays deterministic — residuals are one IEEE subtraction per
    * component off the bucketed-fold centroids — so the full chain
    * hash-gates against the SQL replay.
    */
  def q123_ivfpq_residual(s: SparkSession, dir: String): DataFrame = {
    // same lazy-cache discipline as q121: the residual chain threads
    // centroids through fit AND encode AND serving, so un-cached model
    // stages would replay the Lloyd folds once per consumer (the plan
    // audit showed 18 parquet scans before caching)
    val emb = t(s, dir, "embeddings").withColumn("cell", col("label"))
      .persist()
    val cen = SimSearch.ivfCentroids(emb, "vec_id", "embedding", "cell",
      dim = 64, bucketWidth = 128L).persist()
    val frame = SimSearch.PqFrame.Residual(cen)
    val cb = SimSearch.pqFit(emb, "vec_id", "embedding", m = 2, k = 4,
      iters = 2, dim = 64, bucketWidth = 128L, frame = frame).persist()
    val codes = SimSearch.pqEncode(emb, cb, "vec_id", "embedding",
      m = 2, dim = 64, frame = frame)
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .persist()
    val queries = emb.filter(col("vec_id") < 20)
    SimSearch.rerankExact(SimSearch.ivfPqTopK(codes, cb, cen, queries,
      "vec_id", "embedding", "vec_id", m = 2, k = 40, nprobe = 2,
      dim = 64, frame = frame), queries, emb, "vec_id", "embedding",
      "vec_id", k = 5)
  }

  /** Funnel time-to-convert percentiles: p50/p90 of the
    * stage-(i−1)→i gap in seconds over converting users, from a
    * bottom-k verbatim-value sketch (q104/q120 discipline — sampled
    * gaps carried exactly, so the estimates hash-gate). The latency
    * companion to q110's counts.
    */
  def q124_funnel_latency(s: SparkSession, dir: String): DataFrame =
    EventOps.funnelLatency(t(s, dir, "events"),
      Seq("view", "click", "purchase"))

  /** Deterministic end-to-end replay of the INCREMENTAL streaming
    * funnel ([[graft.streaming.StreamingFunnel]]): the events table
    * splits into four event-time-ordered micro-batches (equal epoch
    * intervals between min and max — the twins' documented exactness
    * precondition), each batch drives `processBatch` against a fresh
    * bucketed state directory, and the final state report must equal
    * the batch funnel over the full history — the oracle is q110's SQL
    * verbatim. This puts the crash-safe incremental state machinery
    * (bucketed swap, least-merge, heal) under the hash gate, not just
    * ScalaTest. EAGER by nature (state writes are jobs, like q26's
    * ingest roundtrip); the report is localCheckpoint'ed and the temp
    * state tree deleted before returning.
    */
  def q125_streaming_funnel_replay(s: SparkSession, dir: String): DataFrame =
    replayFunnelState(s, dir, Seq("view", "click", "purchase")) { p =>
      graft.streaming.StreamingFunnel.report(
        s, p, Seq("view", "click", "purchase"))
    }

  /** Quality-classifier TRAINING (the q87 loadable classifier's
    * missing half): multinomial-NB log-odds token weights + class-
    * prior bias from a weak label (`lang = 'en'`), every weight one
    * IEEE ln-chain snapped to micro-nats — training itself hash-gates
    * against the SQL replay.
    */
  def q126_classifier_train(s: SparkSession, dir: String): DataFrame =
    graft.text.Classifier.trainNaiveBayes(docs(s, dir), "text",
      col("lang") === "en")

  /** Margin-based bitext mining between the even- and odd-id halves
    * of the embedding corpus (the CCMatrix/LASER parallel-pair miner):
    * forward-kNN candidates scored by cosine over both sides' average
    * neighborhood similarity — hubs demoted, each source aligned to
    * its best-margin target. Rounded-cosine rank-order folds make the
    * whole margin chain replay in SQL.
    */
  def q127_bitext_mine(s: SparkSession, dir: String): DataFrame = {
    // each side feeds the forward top-k, the backward top-k AND its
    // neighborhood-mean normalizer — cache the halves so the margin
    // chain reads each side once
    val emb = vecs(s, dir)
    SimSearch.bitextMine(
      emb.filter(col("vec_id") % 2 === 0).persist(),
      emb.filter(col("vec_id") % 2 === 1).persist(),
      "vec_id", "embedding", k = 4, threshold = 0.0)
  }

  /** Per-source document-length distribution drift between the corpus
    * and a deterministic "next crawl" (every 10th doc dropped, every
    * 7th doubled in length): Kolmogorov–Smirnov estimates from two
    * bottom-k verbatim-value sketches — the numeric-stat tier of the
    * drift family (q114 rows, q84 tokens, q122 embeddings). Integer
    * CDF counts over sampled values make the whole report hash-gate.
    */
  def q128_distribution_drift(s: SparkSession, dir: String): DataFrame = {
    val old = t(s, dir, "documents")
    val v2 = old.filter(col("doc_id") % 10 =!= 0)
      .withColumn("n_chars", when(col("doc_id") % 7 === 0,
        col("n_chars") * 2L).otherwise(col("n_chars")))
    Relational.distributionDrift(old, v2, Seq("source"), "n_chars",
      TextOps.hash32(concat_ws(":", col("doc_id"))), k = 256)
  }

  /** Deterministic replay of the INCREMENTAL streaming retention
    * ([[graft.streaming.StreamingRetention]]) — q125's sibling with a
    * STRONGER claim under the gate: the activity-set state is
    * order-free and idempotent, so the four micro-batches here are
    * deliberately split by event-id HASH (non-chronological, users
    * smeared across batches) and the state report must still equal
    * the batch retention exactly (oracle = q112's SQL verbatim).
    * EAGER like q26/q105/q125; the report localCheckpoints and the
    * temp state tree is deleted before returning.
    */
  def q129_streaming_retention_replay(
      s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingRetention
    val ev = t(s, dir, "events")
    val base = java.nio.file.Files.createTempDirectory("graft_sret")
    try {
      val statePath = base.resolve("state").toString
      (0 until 4).foreach { i =>
        StreamingRetention.processBatch(
          ev.filter(pmod(hash(col("event_id")), lit(4)) === i),
          statePath, buckets = 4)
      }
      StreamingRetention.report(s, statePath).localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** HTML → text extraction (the crawl front door feeding every text
    * operator): each document wrapped in realistic page noise —
    * script with a bare `<` in code, style block, comment, entities —
    * must come back out as clean prose. The whole chain is scan-stage
    * regex in the Java∩RE2 subset, so the oracle replays it
    * byte-for-byte.
    */
  def q130_html_extract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><style>p{color:red}</style>" +
        "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
        "</head><body><!-- crawl boilerplate --><p>"),
      col("text"),
      lit("</p>&nbsp;<div>footer &amp; nav</div></body></html>"))
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.htmlToText(html).as("extracted"))
  }

  /** Per-DOMAIN frequency cap over crawl URLs — the RefinedWeb
    * anti-domination rule, composed from two gated parts: hosts come
    * off synthetic per-source URLs via the RE2-safe [[TextOps.urlHost]]
    * (scheme/userinfo/port/path all stripped), and the seeded md5-rank
    * cap is q98's keyCapSample keyed by host.
    */
  def q131_domain_cap(s: SparkSession, dir: String): DataFrame = {
    val urls = docs(s, dir).select(col("doc_id"),
      concat(lit("https://www."), col("source"),
        lit(".example.com:8443/p/"), col("doc_id")).as("url"))
    Relational.keyCapSample(
      urls.withColumn("host", TextOps.urlHost(col("url"))),
      "host", "doc_id", cap = 15L, seed = 29L)
  }

  /** URL-level dedup by canonical key (the C4 first-pass dedup): the
    * same page reached via tracking params, fragments, case-mangled
    * hosts and trailing slashes must collapse to ONE canonical URL.
    * Synthetic per-doc URLs carry exactly that noise; the report is
    * (canonical_url, n_docs, keeper) — tracking-only variants of the
    * same page merge, and the whole regex chain replays in SQL.
    */
  def q132_url_canonical_dedup(s: SparkSession, dir: String): DataFrame = {
    val noise = when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=x&id="), col("doc_id") % 5))
      .when(col("doc_id") % 3 === 1,
        concat(lit("?id="), col("doc_id") % 5, lit("&utm_campaign=y#frag")))
      .otherwise(lit("/"))
    docs(s, dir)
      .select(col("doc_id"),
        TextOps.canonicalUrl(concat(lit("HTTPS://WWW."), col("source"),
          lit(".Example.com/Page/"), col("doc_id") % 7, noise))
          .as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keeper_doc_id"))
  }

  /** Link-graph PageRank over a synthetic crawl graph: every doc links
    * to the 3 docs at `(doc_id*7 + k) % N`, k = 1..3 — regular (out-
    * and in-degree exactly 3, no dangling nodes), so the oracle-tier
    * [[LinkGraph.pageRankExact]] applies and 5 damped power iterations
    * replay in SQL as unrolled CTEs with src-ordered `list_reduce`
    * folds. Ranks snap to nano-units for the hash compare.
    */
  /** The q133/q137 synthetic crawl graph: every doc links to the 3
    * docs at `(doc_id*7 + k) % N`, k = 1..3 — 3-regular in and out,
    * no dangling nodes.
    */
  private def synthGraph(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir)
    val nodes = d.select(col("doc_id").as("id"))
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val edges = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
      .select(col("src"), explode(sequence(lit(1L), lit(3L))).as("k"),
        col("n_nodes"))
      .select(col("src"),
        ((col("src") * 7 + col("k")) % col("n_nodes")).as("dst"))
    (nodes, edges)
  }

  def q133_pagerank(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = synthGraph(s, dir)
    LinkGraph.pageRankExact(nodes, edges, iters = 5, damping = 0.85)
      .select(col("id").as("doc_id"),
        round(col("rank") * lit(1e9)).cast("long").as("rank_nano"))
  }

  /** HyperBall-style harmonic centrality over the same graph: 4
    * sketch-propagation rounds with k=64 KMV registers; the whole
    * integer sketch pipeline (md5 hashes, distinct, top-k order
    * statistics) and the single-division estimates replay in SQL.
    */
  def q137_harmonic_centrality(s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = synthGraph(s, dir)
    LinkGraph.harmonicCentrality(nodes, edges, rounds = 4, k = 64)
      .select(col("id").as("doc_id"),
        round(col("centrality") * lit(1e6)).cast("long")
          .as("harmonic_micro"))
  }

  /** Unicode NFC canonicalization via the `graft_nfc` kernel: per-doc
    * synthetic text mixes decomposed (`e`+U+0301), precomposed
    * (U+00E9), combining-ring, Angstrom-sign-singleton and plain-ASCII
    * spellings; NFC collapses the canonical-equivalent ones so the
    * decomposed and precomposed variants emit identical bytes (the
    * dedup-key point), with codepoint lengths before/after. DuckDB's
    * utf8proc `nfc_normalize` replays the published UAX #15 algorithm
    * byte-for-byte.
    */
  def q134_nfc_normalize(s: SparkSession, dir: String): DataFrame = {
    val raw = when(col("doc_id") % 6 === 0,      // decomposed e+U+0301
        concat(lit("Cafe\u0301 menu #"), col("doc_id") % 10))
      .when(col("doc_id") % 6 === 1,             // precomposed U+00E9
        concat(lit("Caf\u00e9 menu #"), col("doc_id") % 10))
      .when(col("doc_id") % 6 === 2,             // combining ring+diaeresis
        lit("A\u030Angstro\u0308m"))
      .when(col("doc_id") % 6 === 3,             // Angstrom-sign singleton
        lit("\u212B unit"))
      .when(col("doc_id") % 6 === 4,             // combining tilde
        lit("man\u0303ana"))
      .otherwise(col("source"))                  // pure ASCII
    docs(s, dir)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        TextOps.nfcNormalize(col("raw")).as("norm"),
        length(col("raw")).as("n_raw"),
        length(TextOps.nfcNormalize(col("raw"))).as("n_nfc"))
  }

  /** Unicode-script profile: per-doc codepoint counts for the six
    * [[TextOps.scriptClasses]] plus the fixed-tie-break dominant
    * script — the pre-langid routing signal for a multilingual crawl
    * (CJK/Cyrillic/Arabic pages defeat Latin marker-token langid).
    * Synthetic per-doc text mixes script runs; every count is pure
    * scan-stage regexp arithmetic that DuckDB replays with the RE2
    * spellings of the same classes.
    */
  def q135_script_profile(s: SparkSession, dir: String): DataFrame = {
    val t = when(col("doc_id") % 5 === 1,
        lit("hello \u041F\u0440\u0438\u0432\u0435\u0442 123"))
      .when(col("doc_id") % 5 === 2,
        lit("\u4F60\u597D\u4E16\u754C \u3053\u3093 ok"))
      .when(col("doc_id") % 5 === 3,
        lit("mix \u03B1\u03B2\u03B3 42"))
      .when(col("doc_id") % 5 === 4,
        lit("\u0645\u0631\u062D\u0628\u0627"))
      .otherwise(col("source"))
    docs(s, dir)
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id") +: TextOps.scriptProfile(col("t")) :+
        TextOps.dominantScript(col("t")).as("script"): _*)
  }

  /** CUBE totals over the event stream: all four grouping sets of
    * (event_type, hour-of-day) in one Expand pass — the q115 ROLLUP's
    * full-lattice sibling. Aggregates are deliberately order-free
    * (counts, exact distinct, min/max) so the cube replays bit-exactly
    * without float-fold discipline.
    */
  def q136_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .cube(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"))

  /** Mojibake detection over synthetic double-encoded variants:
    * Latin-letter mojibake (e-acute as its two cp1252-mapped bytes),
    * punctuation mojibake (curly apostrophe as its three), and clean
    * controls; the marker count and verdict replay as RE2 regexp
    * arithmetic. The repair side is the `graft_fix_mojibake` kernel
    * (MojibakeSpec — not SQL-expressible).
    */
  def q138_mojibake(s: SparkSession, dir: String): DataFrame = {
    val t = when(col("doc_id") % 4 === 0,          // mojibake e-acute
        concat(lit("caf\u00C3\u00A9 menu #"), col("doc_id") % 7))
      .when(col("doc_id") % 4 === 1,               // clean e-acute
        concat(lit("caf\u00E9 menu #"), col("doc_id") % 7))
      .when(col("doc_id") % 4 === 2,               // mojibake apostrophe
        lit("it\u00E2\u20AC\u2122s ok"))
      .otherwise(col("source"))                    // plain ASCII
    docs(s, dir)
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"),
        TextOps.mojibakeScore(col("t")).as("n_marks"),
        (TextOps.mojibakeScore(col("t")) > 0).as("suspect"))
  }

  /** First-/last-touch attribution: every purchase credited to the
    * first and last view/click in its 24h lookback (NULL = organic).
    * The bin-bucketed range join and the padded `(micros, event_id)`
    * pick keys replay verbatim in SQL.
    */
  def q139_attribution(s: SparkSession, dir: String): DataFrame =
    EventOps.touchAttribution(t(s, dir, "events"),
      touchTypes = Seq("view", "click"), convType = "purchase",
      lookbackSec = 86400L)

  /** Classifier threshold calibration: PR/F1 sweep over 9 candidate
    * cuts on a synthetic score whose positives skew high (md5-derived
    * uniform + one affine lift — single fixed IEEE ops). Counts are
    * integer folds; ratios single divisions; zero-denominator cells
    * NULL. The whole sweep replays in SQL.
    */
  def q140_pr_curve(s: SparkSession, dir: String): DataFrame = {
    val h = TextOps.hash32(concat(lit("pr:"), col("doc_id")))
      .cast("double") / lit(4294967296.0)
    val label = (col("doc_id") % 10) < 3
    val scored = docs(s, dir).select(col("doc_id"), label.as("label"),
      when(label, lit(0.5) + h * lit(0.5)).otherwise(h).as("score"))
    graft.text.Classifier.prCurve(scored, "score", "label",
      Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
  }

  /** robots.txt evaluation (RFC 9309): three synthetic hosts exercise
    * group parsing (comments, multi-group bodies), exact-agent
    * override of `*`, longest-prefix precedence with Allow beating
    * Disallow on ties, and the no-rules default; URLs synthesized from
    * doc ids. The parse windows, group arithmetic and the max_by pick
    * replay verbatim in SQL.
    */
  def q141_robots(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nl = "\n"
    val robots = Seq(
      ("a.example.com",
        Seq("User-agent: *", "Disallow: /private/",
          "Allow: /private/ok", "# comment", "Disallow: /tmp/")
          .mkString(nl)),
      ("b.example.com",
        Seq("User-agent: graftbot", "Disallow: /", "User-agent: *",
          "Disallow: /blocked/").mkString(nl)),
      ("c.example.com",
        Seq("User-agent: otherbot", "Disallow: /").mkString(nl)))
      .toDF("host", "body")
    val rules = graft.sources.Robots.parseRules(robots, "host", "body")
    val hosts = array(lit("a.example.com"), lit("b.example.com"),
      lit("c.example.com"))
    val paths = array(lit("private/x"), lit("private/ok/y"),
      lit("tmp/z"), lit("blocked/w"), lit("pub/p"))
    val urls = docs(s, dir)
      .select(concat(lit("https://"),
        element_at(hosts, (col("doc_id") % 3 + 1).cast("int")),
        lit("/"),
        element_at(paths, (col("doc_id") % 5 + 1).cast("int")))
        .as("url"))
      .distinct()
    graft.sources.Robots.evaluate(urls, rules, "graftbot")
  }

  /** Sitemap round-trip: per-source sitemap XML is BUILT from the doc
    * table (entry strings sorted byte-wise so the aggregation is
    * order-fixed), then parsed back with [[Sitemaps.parse]] — loc +
    * optional lastmod per entry. Both the build and the dotall
    * non-greedy block parse replay in SQL.
    */
  def q142_sitemap(s: SparkSession, dir: String): DataFrame = {
    val entry = concat(
      lit("<url><loc>https://ex.com/"), col("source"), lit("/"),
      col("doc_id"), lit("</loc>"),
      when(col("doc_id") % 4 === 0, lit(""))
        .otherwise(concat(lit("<lastmod>2024-01-"),
          lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
          lit("</lastmod>"))),
      lit("</url>"))
    val xml = docs(s, dir).select(col("source"), entry.as("e"))
      .groupBy("source")
      .agg(concat(lit("<urlset>"),
        array_join(array_sort(collect_list(col("e"))), ""),
        lit("</urlset>")).as("xml"))
    graft.sources.Sitemaps.parse(xml, "xml")
  }

  /** Readability report over the real document text: FK grade +
    * Flesch ease from scan-stage regexp counts and fixed float
    * chains.
    */
  def q143_readability(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id") +: TextOps.readability(col("text")): _*)

  /** Card/phone PII tier with Luhn validation: planted valid and
    * checksum-broken card numbers (plain + dash-formatted) and NA
    * phone spellings; candidate counts, Luhn-valid counts (the false-
    * positive cut) and the conservative redaction all replay in SQL —
    * the checksum as a DuckDB list comprehension mirroring Spark's
    * indexed transform fold.
    */
  def q144_pii_cards(s: SparkSession, dir: String): DataFrame = {
    val t = when(col("doc_id") % 5 === 0,
        lit("pay 4539578763621486 now"))          // Luhn-valid
      .when(col("doc_id") % 5 === 1,
        lit("pay 4539-5787-6362-1487 now"))       // checksum broken
      .when(col("doc_id") % 5 === 2,
        lit("amex 3782 822463 10005 ok"))         // valid, spaced
      .when(col("doc_id") % 5 === 3,
        lit("call (555) 123-4567 or 555-987-6543"))
      .otherwise(col("source"))
    val cands = regexp_extract_all(col("t"),
      lit(TextOps.cardCandidatePattern), lit(0))
    docs(s, dir)
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"),
        size(cands).as("n_cards"),
        size(filter(cands, c =>
          TextOps.luhnValid(regexp_replace(c, "[ -]", ""))))
          .as("n_luhn_valid"),
        size(regexp_extract_all(col("t"), lit(TextOps.phonePattern),
          lit(0))).as("n_phones"),
        TextOps.redactPiiExtended(col("t")).as("redacted"))
  }

  /** Hybrid retrieval: BM25 (q78's three term queries) fused with
    * dense cosine (query vectors = the matching embedding ids) by
    * reciprocal-rank fusion. Both input rankings already hash-gate on
    * their own; RRF adds two single divisions and a fixed 2-term sum,
    * so the fused ranking replays end-to-end.
    */
  def q145_hybrid_rrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (1L, "spark"), (1L, "join"), (1L, "window"),
      (2L, "slow"), (2L, "query"), (2L, "filter"),
      (3L, "customer"), (3L, "order"), (3L, "the"))
      .toDF("query_id", "term")
    val bm = graft.text.Bm25.search(docs(s, dir), "text", "doc_id",
      queries, "query_id", k = 10)
      .select(col("query_id").as("qid"), col("doc_id").as("id"),
        col("rank"))
    val cos = SimSearch.bruteForceTopK(t(s, dir, "embeddings"),
      "vec_id", "embedding", col("vec_id").isin(1L, 2L, 3L), k = 10)
      .select(col("qid"), col("neighbor").as("id"),
        (col("rank") + 1).as("rank")) // 0-based -> 1-based
    SimSearch.rrfFuse(Seq(bm, cos), k = 10)
      .select(col("qid").as("query_id"), col("id").as("doc_id"),
        col("rrf"), col("rank"))
  }

  /** Label-propagation communities over a planted-ring graph: each
    * doc links to the +10 and +20 neighbors mod N, so the graph is 10
    * disjoint residue-class rings — LPA's labels must stay inside
    * their ring. 3 synchronous rounds, integer-only, replayed as
    * unrolled CTEs.
    */
  def q146_communities(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nodes = d.select(col("doc_id").as("id"))
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val edges = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
      .select(col("src"), explode(sequence(lit(1L), lit(2L))).as("k"),
        col("n_nodes"))
      .select(col("src"),
        ((col("src") + col("k") * 10) % col("n_nodes")).as("dst"))
    LinkGraph.labelPropagation(nodes, edges, iters = 3)
      .select(col("id").as("doc_id"), col("label").as("community"))
  }

  /** Data-contract expectations over lineitem: six named rules (range,
    * threshold, enum, non-null, positivity) checked in one aggregation
    * pass; violation counts/rates replay as CASE sums.
    */
  def q147_expectations(s: SparkSession, dir: String): DataFrame =
    Diagnose.expectations(t(s, dir, "lineitem"), Seq(
      "qty_in_range" -> col("l_quantity").between(1, 50),
      "discount_low" -> (col("l_discount") <= 0.05),
      "tax_nonneg" -> (col("l_tax") >= 0),
      "returnflag_enum" -> col("l_returnflag").isin("A", "N", "R"),
      "shipdate_not_null" -> col("l_shipdate").isNotNull,
      "price_positive" -> (col("l_extendedprice") > 0)))

  /** Winsorized value statistics per event type: exact p10/p90 clip
    * thresholds (q36 discipline), micro-snapped order-free sums, two
    * fixed divisions for the mean.
    */
  def q148_winsorized(s: SparkSession, dir: String): DataFrame =
    Relational.winsorizedStats(t(s, dir, "events"), Seq("event_type"),
      "value", pLo = 0.1, pHi = 0.9)

  /** Interval-overlap join over synthetic per-doc intervals (left
    * spans of 25 on a ×10 grid, right spans of 30 on a ×9 grid, keyed
    * mod 7): bin-bucketed equi pairing with the overlap-start dedupe,
    * integer overlap lengths. The bins change nothing about the
    * matched set, so the oracle is the plain conditional join.
    */
  def q149_interval_overlap(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val left = d.select((col("doc_id") % 7).as("grp"),
      col("doc_id").as("l_id"), (col("doc_id") * 10).as("l_lo"),
      (col("doc_id") * 10 + 25).as("l_hi"))
    val right = d.select((col("doc_id") % 7).as("grp"),
      col("doc_id").as("r_id"), (col("doc_id") * 9).as("r_lo"),
      (col("doc_id") * 9 + 30).as("r_hi"))
    Relational.intervalOverlapJoin(left, right, Seq("grp"),
      "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 64L)
      .select(col("grp"), col("l_id"), col("r_id"),
        (least(col("l_hi"), col("r_hi")) -
          greatest(col("l_lo"), col("r_lo"))).as("overlap"))
  }

  /** Crawl-frontier planning — the composed crawl story (the q57
    * clean-corpus analog for URLs): canonicalize candidate URLs
    * (q132's noise), collapse duplicates to a keeper, anti-join the
    * already-crawled seen set, then apply the per-host politeness cap
    * (q131's seeded md5 rank). Every stage is an already-gated piece;
    * the composition replays end-to-end.
    */
  def q150_crawl_frontier(s: SparkSession, dir: String): DataFrame = {
    val noise = when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=x&id="), col("doc_id") % 5))
      .when(col("doc_id") % 3 === 1,
        concat(lit("?id="), col("doc_id") % 5, lit("&utm_campaign=y#frag")))
      .otherwise(lit("/"))
    val raw = docs(s, dir).select(col("doc_id"),
      TextOps.canonicalUrl(concat(lit("HTTPS://WWW."), col("source"),
        lit(".Example.com/Page/"), col("doc_id") % 37, noise))
        .as("url"))
    val dedup = raw.groupBy("url")
      .agg(min(col("doc_id")).as("keeper_doc_id"))
    val seen = raw.filter(col("doc_id") % 3 === 0)
      .select(col("url")).distinct()
    val fresh = dedup.join(seen, Seq("url"), "left_anti")
    Relational.keyCapSample(
      fresh.withColumn("host", TextOps.urlHost(col("url"))),
      "host", "keeper_doc_id", cap = 10L, seed = 31L)
  }

  /** Relational set algebra: INTERSECT / EXCEPT (distinct semantics)
    * over two id subsets, summarized per operation.
    */
  def q151_set_algebra(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val a = d.filter(col("doc_id") % 2 === 0).select("doc_id")
    val b = d.filter(col("doc_id") % 3 === 0).select("doc_id")
    a.intersect(b).withColumn("op", lit("intersect"))
      .unionByName(a.except(b).withColumn("op", lit("except")))
      .groupBy("op")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  /** Core window-analytics surface: per-user event gaps (lag), ntile
    * quartiles, percent_rank and cume_dist — all over the total
    * (micros, event_id) order within each user partition (no global
    * window, no tie ambiguity).
    */
  def q152_window_analytics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val us = unix_micros(col("ts"))
    val w = Window.partitionBy("user_id").orderBy(us, col("event_id"))
    t(s, dir, "events").select(col("event_id"), col("user_id"),
      (us - lag(us, 1).over(w)).as("gap_us"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 6).as("pr"),
      round(cume_dist().over(w), 6).as("cd"))
  }

  /** Wide→long unpivot of a metric row-set (the reshape inverse of
    * q31's pivot): per-returnflag sums unpivot into (metric, value)
    * rows.
    */
  def q153_unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_tax")).as("sum_tax"),
        count(lit(1)).cast("double").as("n_rows"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_tax"), col("n_rows")),
        "metric", "value")
      .select(col("l_returnflag"), col("metric"),
        round(col("value"), 6).as("value"))

  /** Calendar rollup: ISO-week grain (Monday-start on both engines),
    * distinct active days, day span — the date-function surface.
    */
  def q154_calendar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("week", col("ts")).cast("date")
        .as("week_start"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        count_distinct(to_date(col("ts"))).as("n_active_days"),
        datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .as("span_days"))

  /** Scalar string-function surface: translate, levenshtein, repeat,
    * left/right, reverse, ascii, lpad — parity across engines on the
    * distinct source labels.
    */
  def q155_string_funcs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("source")).distinct()
      .select(col("source"),
        translate(col("source"), "aeiou", "AEIOU").as("tr"),
        levenshtein(col("source"), lit("web")).as("lev"),
        repeat(substring(col("source"), 1, 2), 3).as("rep"),
        reverse(col("source")).as("rev"),
        ascii(col("source")).as("asc"),
        lpad(col("source"), 10, ".").as("pad"))

  /** Gap-filled daily resample per user (zero-filled calendar grid). */
  def q156_resample_daily(s: SparkSession, dir: String): DataFrame =
    EventOps.resampleDaily(t(s, dir, "events"))

  /** Per-user EWMA (α=0.3) over the gap-filled daily series — a fixed
    * day-ordered IEEE fold.
    */
  def q157_ewma(s: SparkSession, dir: String): DataFrame =
    EventOps.ewmaDaily(t(s, dir, "events"), alpha = 0.3)

  /** Exact-replay correlation/regression per event type: value
    * (milli-snapped) against hour-of-day via integer moment sums and
    * one fixed float chain — the corr/regr_* family without the
    * built-ins' partition-order float drift.
    */
  def q158_regression(s: SparkSession, dir: String): DataFrame =
    Relational.linearFit(t(s, dir, "events"), Seq("event_type"),
      hour(col("ts")).cast("long"),
      round(col("value") * 1000).cast("long"))

  /** HTML head metadata extraction: synthesized pages vary title
    * placement, meta-attribute order, charset declarations (HTML5 vs
    * legacy http-equiv vs absent) — title/description/charset come
    * back via the same dotall regexes in SQL.
    */
  def q159_html_meta(s: SparkSession, dir: String): DataFrame = {
    val head = when(col("doc_id") % 4 === 0,
        concat(lit("<head><TITLE> Doc "), col("doc_id"),
          lit(" </TITLE><meta charset=\"UTF-8\"><meta " +
            "name=\"description\" content=\"first flavor\"></head>")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("<head><meta content=\"second flavor\" " +
          "name=\"description\"><meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=iso-8859-1\"><title>t"),
          col("doc_id") % 9, lit("</title></head>")))
      .when(col("doc_id") % 4 === 2,
        lit("<head><meta charset=utf-8><title>bare</title></head>"))
      .otherwise(lit("<head></head>"))
    docs(s, dir)
      .select(col("doc_id"),
        concat(lit("<html>"), head, lit("<body>x</body></html>"))
          .as("html"))
      .select(col("doc_id"),
        TextOps.htmlTitle(col("html")).as("title"),
        TextOps.htmlMetaDescription(col("html")).as("description"),
        TextOps.htmlCharset(col("html")).as("charset"))
  }

  /** Declared-vs-actual encoding audit — the composition the charset
    * extractor and the mojibake detector exist for: pages DECLARING
    * utf-8 but carrying double-encoding marks were corrupted upstream
    * ("double-encoded"); pages declaring legacy charsets with marks
    * were transcoded badly ("mis-served"); marks without a declaration
    * are "undeclared-suspect". Synthetic pages pair q159's heads with
    * q138's bodies; verdict logic is a CASE chain.
    */
  def q160_encoding_audit(s: SparkSession, dir: String): DataFrame = {
    val head = when(col("doc_id") % 3 === 0,
        lit("<head><meta charset=\"utf-8\"></head>"))
      .when(col("doc_id") % 3 === 1,
        lit("<head><meta http-equiv=\"Content-Type\" content=\"" +
          "text/html; charset=iso-8859-1\"></head>"))
      .otherwise(lit("<head></head>"))
    val body = when(col("doc_id") % 2 === 0,
        concat(lit("<body>cafÃ© menu #"), col("doc_id") % 7,
          lit("</body>")))
      .otherwise(concat(lit("<body>plain #"), col("doc_id") % 7,
        lit("</body>")))
    val html = concat(lit("<html>"), head, body, lit("</html>"))
    val charset = TextOps.htmlCharset(html)
    val marks = TextOps.mojibakeScore(html)
    docs(s, dir).select(col("doc_id"), charset.as("declared"),
      marks.as("n_marks"),
      when(marks === 0, lit("clean"))
        .when(charset === "utf-8", lit("double-encoded"))
        .when(charset =!= "", lit("mis-served"))
        .otherwise(lit("undeclared-suspect")).as("verdict"))
  }

  /** Crawl-delay politeness schedule: synthetic robots bodies with
    * numeric, fractional, duplicate (max wins), zero (dropped) and
    * junk (dropped) delays across agent groups — per-(host, agent)
    * seconds and the derived max fetch rate replay in SQL.
    */
  def q161_crawl_delay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val robots = Seq(
      ("a.example.com", Seq("User-agent: *", "Crawl-delay: 10",
        "Disallow: /x", "User-agent: fastbot", "Crawl-delay: 0.5")
        .mkString("\n")),
      ("b.example.com", Seq("User-agent: graftbot", "Crawl-delay: 2",
        "Crawl-delay: 7", "# dup keeps max").mkString("\n")),
      ("c.example.com", Seq("User-agent: *", "Crawl-delay: 0",
        "User-agent: junkbot", "Crawl-delay: soon").mkString("\n")))
      .toDF("host", "body")
    graft.sources.Robots.crawlDelays(robots, "host", "body")
  }

  /** Triangle counts over a double-ring graph (every doc links +1 and
    * +2 mod N, so each consecutive triple closes a triangle and every
    * node sits in exactly 3): degree-ordered wedge enumeration,
    * integer-only, replayed with the identical join chain.
    */
  def q162_triangles(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nodes = d.select(col("doc_id").as("id"))
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val edges = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
      .select(col("src"), explode(sequence(lit(1L), lit(2L))).as("k"),
        col("n_nodes"))
      .select(col("src"),
        ((col("src") + col("k")) % col("n_nodes")).as("dst"))
    LinkGraph.triangleCounts(nodes, edges)
      .select(col("id").as("doc_id"), col("n_triangles"))
  }

  /** k-core screen over a shell-structured graph: a degree-2 base
    * ring (peels immediately at k=4) plus a dense +10/+20/+30 inner
    * ring over the multiples of 10 (internal degree 6 — survives).
    * Three peel rounds, integer-only, unrolled in SQL.
    */
  def q163_kcore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nodes = d.select(col("doc_id").as("id"))
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val base = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
    val ring = base.select(col("src"),
      ((col("src") + 1) % col("n_nodes")).as("dst"))
    val dense = base.filter(col("src") % 10 === 0)
      .select(col("src"),
        explode(sequence(lit(1L), lit(3L))).as("k"), col("n_nodes"))
      .select(col("src"),
        ((col("src") + col("k") * 10) % col("n_nodes")).as("dst"))
    LinkGraph.kCore(nodes, ring.union(dense), k = 4, rounds = 3)
      .select(col("id").as("doc_id"), col("in_core"))
  }

  /** Local clustering coefficients over the q162 double-ring graph
    * (every node: 3 triangles, degree 4 → 0.5): integer counts + one
    * fixed division, NULL below degree 2.
    */
  def q164_clustering(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nodes = d.select(col("doc_id").as("id"))
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val edges = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
      .select(col("src"), explode(sequence(lit(1L), lit(2L))).as("k"),
        col("n_nodes"))
      .select(col("src"),
        ((col("src") + col("k")) % col("n_nodes")).as("dst"))
    LinkGraph.clusteringCoefficient(nodes, edges)
      .select(col("id").as("doc_id"), col("n_triangles"), col("deg"),
        col("clustering"))
  }

  /** Reciprocity screen over a mixed graph: a one-way +1 ring plus
    * explicit mutual pairs planted from even nodes (+5 both ways) —
    * integer counts, one division, NULL for outlink-less nodes
    * (none here).
    */
  def q165_reciprocity(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nodes = d.select(col("doc_id").as("id"))
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val base = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
    val ring = base.select(col("src"),
      ((col("src") + 1) % col("n_nodes")).as("dst"))
    val fwd = base.filter(col("src") % 2 === 0)
      .select(col("src"), ((col("src") + 5) % col("n_nodes")).as("dst"))
    val back = base.filter(col("src") % 2 === 0)
      .select(((col("src") + 5) % col("n_nodes")).as("src"),
        col("src").as("dst"))
    LinkGraph.reciprocityRatio(nodes, ring.union(fwd).union(back))
      .select(col("id").as("doc_id"), col("outdeg"), col("n_mutual"),
        col("reciprocity"))
  }

  /** Per-source distinct 3-gram cardinality via the HyperLogLog
    * register sketch — KMV's (q100) industry-standard sibling with
    * FIXED 64-byte state per group: registers build map-side from the
    * raw gram stream and merge by elementwise max. The gate
    * hash-compares the register vector (as an order-weighted integer
    * checksum), the exact-BIGINT harmonic-sum numerator, and both
    * estimate tiers (raw HLL + linear counting), so the oracle
    * replays the whole register mechanism, not just the number.
    */
  def q166_hll_distinct(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        TextOps.shingles(TextOps.tokensSimple(col("text")), 3).as("_g"))
      .groupBy(col("source"))
      .agg(TextOps.hllSketch(col("_g"), 6).as("_regs"))
      .select(col("source"),
        expr("CAST(size(filter(_regs, r -> r = 0)) AS BIGINT)")
          .as("n_zero_regs"),
        expr("aggregate(_regs, CAST(0 AS BIGINT), " +
          "(a, r) -> a + CAST(r AS BIGINT))").as("reg_sum"),
        expr("aggregate(zip_with(_regs, sequence(1, 64), " +
          "(r, i) -> CAST(r AS BIGINT) * i), CAST(0 AS BIGINT), " +
          "(a, x) -> a + x)").as("reg_checksum"),
        expr("aggregate(_regs, CAST(0 AS BIGINT), " +
          "(a, r) -> a + CAST(pow(2, 27 - r) AS BIGINT))").as("z_num"))
      .select(col("source"), col("n_zero_regs"), col("reg_sum"),
        col("reg_checksum"), col("z_num"),
        // alpha_64 · m² / Z with Z = z_num / 2^27: one double division
        round(lit(0.709) * lit(4096.0) * lit(134217728.0) /
          col("z_num"), 6).as("est_raw"),
        // linear-counting tier for the small range, in micro-nats
        when(col("n_zero_regs") > 0,
          round(log(lit(64.0) / col("n_zero_regs")) * lit(1e6))
            .cast("long")).as("est_lc_unat"))

  /** Top PMI collocations over the corpus — the multi-word units a
    * tokenizer vocabulary should keep whole: adjacent-bigram pointwise
    * mutual information with count flooring, micro-nat-snapped per ln
    * term so the difference replays as BIGINT arithmetic, top-k via
    * per-partition heaps.
    */
  def q167_pmi_collocations(s: SparkSession, dir: String): DataFrame =
    TextOps.pmiCollocations(docs(s, dir), "text",
      minCount = 5L, topK = 100)

  /** HITS hub/authority path counts over a ring + dense-subgraph
    * mix (q163's shell shape): the dense multiples-of-10 rows separate
    * from the ring on both scores, exact BIGINTs, unrolled join
    * chains in SQL.
    */
  def q168_hits(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nodes = d.select(col("doc_id").as("id"))
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val base = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
    val ring = base.select(col("src"),
      ((col("src") + 1) % col("n_nodes")).as("dst"))
    val dense = base.filter(col("src") % 10 === 0)
      .select(col("src"),
        explode(sequence(lit(1L), lit(3L))).as("k"), col("n_nodes"))
      .select(col("src"),
        ((col("src") + col("k") * 10) % col("n_nodes")).as("dst"))
    LinkGraph.hitsPathCounts(nodes, ring.union(dense), rounds = 2)
      .select(col("id").as("doc_id"), col("hub"), col("auth"))
  }

  /** Hill tail-index estimate over the token-frequency distribution —
    * the "how Zipf is this corpus" diagnostic: top-101 counts via
    * per-partition heaps, micro-nat ln sum, one closing division.
    */
  def q169_hill_tail(s: SparkSession, dir: String): DataFrame = {
    val uni = docs(s, dir)
      .select(explode(TextOps.tokensSimple(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    Relational.hillTailIndex(uni, col("c"), col("t"), k = 100)
  }

  /** First-order Markov transition matrix over user event sequences —
    * consecutive (type → next type) counts and row-normalized
    * probabilities, one user-partitioned lead window, kind-pair-sized
    * aggregates, one division.
    */
  def q170_transitions(s: SparkSession, dir: String): DataFrame =
    EventOps.transitionMatrix(t(s, dir, "events"))

  /** Matryoshka truncation sweep: recall@5 of prefix-truncated
    * embedding search (8/16/32/64 dims) against the full-dim exact
    * ranking, per (dims, query) — the full-dim tier pins recall 1.0
    * as the harness sanity row.
    */
  def q171_matryoshka_recall(s: SparkSession, dir: String): DataFrame =
    SimSearch.matryoshkaRecall(t(s, dir, "embeddings"), "vec_id",
      "embedding", col("vec_id") < 20, k = 5,
      dims = Seq(8, 16, 32, 64))

  /** Content-defined chunk redundancy: the corpus's most duplicated
    * CDC chunks (window-8 md5 boundaries mod 16) with occurrence and
    * doc-spread counts — the chunk-store dedup view document-level
    * hashing misses. The kernel chunks in one pass; the oracle
    * replays boundaries, chunk reassembly and the ranking with list
    * functions.
    */
  def q172_cdc_chunks(s: SparkSession, dir: String): DataFrame =
    Dedup.cdcDedupReport(docs(s, dir), "text", "doc_id",
      window = 8, mask = 16, topK = 50)

  /** Per-user inter-arrival burstiness — the bot/scripted-traffic
    * screen from timestamps alone: integer-second gaps, exact BIGINT
    * Σg/Σg², and the (σ−μ)/(σ+μ) score as one sqrt of an integer and
    * one division.
    */
  def q173_burstiness(s: SparkSession, dir: String): DataFrame =
    EventOps.burstiness(t(s, dir, "events"))

  /** Per-source PSI drift between the corpus and q128's synthetic v2
    * snapshot — the binned drift score beside q128's KS statistic:
    * width-100 n_chars bins, Laplace-smoothed, integer-weighted
    * micro-nat terms, one closing division chain.
    */
  def q174_psi_drift(s: SparkSession, dir: String): DataFrame = {
    val old = t(s, dir, "documents")
    val v2 = old.filter(col("doc_id") % 10 =!= 0)
      .withColumn("n_chars", when(col("doc_id") % 7 === 0,
        col("n_chars") * 2L).otherwise(col("n_chars")))
    Relational.psiDrift(old, v2, Seq("source"), col("n_chars"),
      binWidth = 100L)
  }

  /** Seasonality-adjusted anomalies: (dow × hour) mean-value profile
    * from integer calendar slots, BIGINT residual numerators, top-20
    * by |residual| — the slot-aware screen beside the global outlier
    * cuts.
    */
  def q175_seasonal_anomalies(s: SparkSession, dir: String): DataFrame =
    EventOps.seasonalAnomalies(t(s, dir, "events"), topK = 20)

  /** Explicit GROUPING SETS lattice (the ad-hoc sibling of q115's
    * ROLLUP and q136's CUBE): the four-set (source, lang) lattice
    * with `grouping_id` disambiguating real NULLs from subtotal
    * rows — integer aggregates only.
    */
  def q176_grouping_sets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupingSets(
        Seq(Seq(col("source"), col("lang")), Seq(col("source")),
          Seq(col("lang")), Seq.empty),
        col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        grouping_id().as("gid"))

  /** Freshness-decayed corpus mix: per-source document weights
    * `exp(−age/90)` (ages synthesized as `doc_id mod 365` days) —
    * the recency weighting a training-mix scheduler applies before
    * quota sampling. Each weight snaps to exact micro-units
    * independently (ONE exp per row), sums are BIGINT, and the
    * effective fraction is one division against the broadcast 1-row
    * total.
    */
  def q177_decay_mix(s: SparkSession, dir: String): DataFrame = {
    val w = t(s, dir, "documents")
      .select(col("source"),
        round(exp((col("doc_id") % 365).cast("double") /
          lit(-90.0)) * lit(1000000.0)).cast("long").as("_w"))
    val per = w.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_w")).as("w_micro"))
    val tot = per.agg(sum(col("w_micro")).as("_t"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("w_micro"),
        round(col("w_micro").cast("double") / col("_t").cast("double"),
          6).as("eff_frac"))
  }

  /** Duplication-concentration Gini over docs-per-source counts via
    * the pairwise closed form `Σᵢⱼ|xᵢ−xⱼ| / (2nΣx)` — no sort, no
    * window, one broadcast self-join over the G-row class table;
    * numerators exact BIGINTs, one closing division.
    */
  def q178_gini_concentration(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "documents").groupBy(col("source"))
      .agg(count(lit(1)).as("x"))
    val a = x.select(col("source").as("_sa"), col("x").as("_xa"))
    val b = x.select(col("source").as("_sb"), col("x").as("_xb"))
    val pairs = a.crossJoin(broadcast(b))
      .agg(sum(abs(col("_xa") - col("_xb"))).as("_num"),
        count(lit(1)).as("_n2"))
    val tot = x.agg(count(lit(1)).as("n_classes"),
      sum(col("x")).as("n_total"))
    pairs.crossJoin(broadcast(tot))
      .select(col("n_classes"), col("n_total"), col("_num").as("gini_num"),
        round(col("_num").cast("double") /
          (lit(2L) * col("n_classes") * col("n_total")).cast("double"),
          6).as("gini"))
  }

  /** Classifier calibration (reliability diagram): the q126 NB model
    * served back over the corpus, confidence-bucketed, observed
    * accuracy vs mean claimed confidence per bucket — the ECE
    * integrand, gated through the whole train → serve → sigmoid →
    * bucket chain.
    */
  def q179_calibration(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // a TEXT-derived label ("mentions data"): the lang label is
    // independent of the synthetic text, which collapses every doc
    // into one confidence bucket; this one the bag-of-words model can
    // partially learn, and the length-normalized serving mean spreads
    // confidence across buckets
    val y = col("text").contains("data")
    val w = graft.text.Classifier.trainNaiveBayes(d, "text", y)
    graft.text.Classifier.calibrationReport(d, "text", "doc_id", y, w)
  }

  /** Corpus card (composed flagship, q150's discipline): one
    * per-source dataset-card row — volume (docs, tokens), diversity
    * (HLL distinct-3-gram estimate, q166's chain), redundancy
    * (corpus-level exact-dup ratio) and language mix entropy
    * (micro-nat integer terms). Four bounded aggregation passes over
    * the corpus joined on the source key; every chain is a gate
    * alumnus.
    */
  def q180_corpus_card(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = d
      .select(col("source"),
        size(TextOps.tokensSimple(col("text"))).cast("long").as("_nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
    val hll = d.select(col("source"),
        TextOps.shingles(TextOps.tokensSimple(col("text")), 3).as("_g"))
      .groupBy(col("source"))
      .agg(TextOps.hllSketch(col("_g"), 6).as("_regs"))
      .select(col("source"),
        expr("aggregate(_regs, CAST(0 AS BIGINT), " +
          "(a, r) -> a + CAST(pow(2, 27 - r) AS BIGINT))").as("_z"))
      .select(col("source"),
        round(lit(0.709) * lit(4096.0) * lit(134217728.0) / col("_z"),
          6).as("est_distinct_3grams"))
    val h = d.select(col("source"), md5(col("text")).as("_h"))
    val dupHash = h.groupBy(col("_h")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1).select(col("_h"))
    val dup = h.join(dupHash, Seq("_h"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
    val ent = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("_c"))
      .join(base.select(col("source"), col("n_docs").as("_n")),
        Seq("source"))
      .select(col("source"),
        round((col("_c").cast("double") / col("_n").cast("double")) *
          (log(col("_n").cast("double")) -
            log(col("_c").cast("double"))) * lit(1000000.0))
          .cast("long").as("_t"))
      .groupBy(col("source"))
      .agg(sum(col("_t")).as("lang_entropy_micro"))
    base.join(hll, Seq("source"))
      .join(dup, Seq("source"), "left").na.fill(0L, Seq("n_dup_docs"))
      .join(ent, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("est_distinct_3grams"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_ratio"),
        col("lang_entropy_micro"))
  }

  /** Market-basket association rules over per-user event-type sets:
    * support / both confidences / lift per unordered pair, integer
    * counts and single divisions throughout.
    */
  def q181_association_rules(s: SparkSession, dir: String): DataFrame =
    EventOps.associationRules(t(s, dir, "events"))

  /** Commonest 3-step user journeys: one lead window over per-user
    * event order, path-sized counts, heap top-20.
    */
  def q182_journeys(s: SparkSession, dir: String): DataFrame =
    EventOps.topJourneys(t(s, dir, "events"), steps = 3, topK = 20)

  /** Language-ID confusion matrix: q53's profile classifier scored
    * against the lang label, per-(label, prediction) counts and
    * per-label rates — the eval row a langId gate reads before
    * trusting the filter.
    */
  def q183_lang_confusion(s: SparkSession, dir: String): DataFrame = {
    val pred = docs(s, dir).select(col("lang"),
      TextOps.langIdProfile(
        TextOps.charGrams(lower(col("text")), 3), gateLangProfiles)
        .as("lang_pred"))
    val cm = pred.groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val tot = cm.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    cm.join(tot, Seq("lang"))
      .select(col("lang"), col("lang_pred"), col("n"), col("n_lang"),
        round(col("n").cast("double") / col("n_lang").cast("double"),
          6).as("rate"))
  }

  /** Memorization-risk audit: the corpus's most-repeated 8-grams with
    * occurrence and doc-spread counts — the spans a model is likeliest
    * to regurgitate verbatim (Lee et al. 2022 dedup motivation), and
    * the candidate list a span-excision pass (q92/q93) would feed on.
    * One shingle pass collapses to gram counts (text never moves
    * after the explode), heap top-k.
    */
  def q184_memorization_audit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        explode(TextOps.shingles(
          TextOps.tokensSimple(col("text")), 8)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_occ").desc, col("gram"))
      .limit(50)

  /** Session entry/exit arcs with bounce counts — q24's gap rule with
    * the event types kept; user/session-partitioned windows only.
    */
  def q185_entry_exit(s: SparkSession, dir: String): DataFrame =
    EventOps.entryExitReport(t(s, dir, "events"), gapMinutes = 30)

  /** Per-source z-score screen over document lengths: exact-BIGINT
    * moment sums, one sqrt + one division per row, top-50 by |z|.
    */
  def q186_zscores(s: SparkSession, dir: String): DataFrame =
    Relational.groupZScores(t(s, dir, "documents"), Seq("source"),
      col("n_chars"), "doc_id", topK = 50)

  /** Label-centroid similarity matrix: q27's bounded two-level mean
    * fold per label, then pairwise centroid cosine over the G-row
    * table — "which classes live close together in embedding space",
    * the confusion-risk map before training a classifier head.
    */
  def q187_centroid_similarity(s: SparkSession, dir: String): DataFrame = {
    val cen = SimSearch.meanVectors(t(s, dir, "embeddings"), "label",
      "vec_id", "embedding", dim = 64, bucketWidth = 128L)
    val a = cen.select(col("label").as("label_a"), col("n").as("n_a"),
      col("mean").as("_ca"))
    val b = cen.select(col("label").as("label_b"), col("n").as("n_b"),
      col("mean").as("_cb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(SimSearch.dot(col("_ca"), col("_cb")) /
          (sqrt(SimSearch.dot(col("_ca"), col("_ca"))) *
            sqrt(SimSearch.dot(col("_cb"), col("_cb")))), 6)
          .as("cos_sim"))
  }

  /** RFM engagement features per user, anchored to the corpus max
    * timestamp — deterministic recency/frequency/monetary/tenure
    * integers.
    */
  def q188_rfm(s: SparkSession, dir: String): DataFrame =
    EventOps.rfm(t(s, dir, "events"))

  /** Two-proportion A/B conversion report (variant = user-id parity,
    * conversion = purchase): per-variant integer counts + rates and
    * the pooled z statistic as one micro-snapped sqrt/division chain.
    */
  def q189_ab_test(s: SparkSession, dir: String): DataFrame =
    EventOps.abTest(t(s, dir, "events"),
      variant = col("user_id") % 2 === 1,
      converted = col("event_type") === "purchase")

  /** Lead-lag sweep: corr(click_t, purchase_{t+lag}) for lags −3..3
    * over shared gap-filled daily series — q158's exact-moment
    * correlation chain per shifted join.
    */
  def q190_lead_lag(s: SparkSession, dir: String): DataFrame =
    EventOps.leadLagCorrelation(t(s, dir, "events"),
      kindA = "click", kindB = "purchase", maxLag = 3)

  /** Cohort LTV: first-seen-day cohorts, micro-snapped revenue by
    * cohort age with the partitioned cumulative sum.
    */
  def q191_cohort_ltv(s: SparkSession, dir: String): DataFrame =
    EventOps.cohortLtv(t(s, dir, "events"))

  /** Soft-dedup training weights: every doc keeps weight
    * 10⁶ / |exact-dup cluster| (micro), so duplicate families
    * contribute one document's worth of gradient in total — the
    * downweight-instead-of-drop flavor of q13.
    */
  def q192_soft_dedup_weights(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sizes = d.select(md5(col("text")).as("_h"))
      .groupBy(col("_h")).agg(count(lit(1)).as("cluster_size"))
    d.select(col("doc_id"), md5(col("text")).as("_h"))
      .join(sizes, Seq("_h"))
      .select(col("doc_id"), col("cluster_size"),
        round(lit(1000000.0) / col("cluster_size"))
          .cast("long").as("weight_micro"))
  }

  /** Daily-series peak detection: strict local maxima of the
    * zero-filled corpus event-count series with integer prominence
    * over the ±1 neighborhood.
    */
  def q193_peaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sec = col("ts").cast("long")
    val days = t(s, dir, "events")
      .select(floor(sec / lit(86400)).as("_d"))
    val grid = days.agg(min(col("_d")).as("_d0"),
        max(col("_d")).as("_d1"))
      .select(explode(sequence(col("_d0"), col("_d1"))).as("_d"))
    val series = grid.join(
        days.groupBy(col("_d")).agg(count(lit(1)).as("n")),
        Seq("_d"), "left")
      .na.fill(0L, Seq("n"))
    // neighbors via shifted self-joins — no global window anywhere
    val nb = series.select(col("_d"), col("n"))
    series.select(col("_d"), col("n"))
      .join(nb.select((col("_d") + 1).as("_d"), col("n").as("_prev")),
        Seq("_d"), "left")
      .join(nb.select((col("_d") - 1).as("_d"), col("n").as("_next")),
        Seq("_d"), "left")
      .na.fill(0L, Seq("_prev", "_next"))
      .filter(col("n") > col("_prev") && col("n") > col("_next"))
      .select(col("_d").as("day"), col("n"),
        (col("n") - greatest(col("_prev"), col("_next")))
          .as("prominence"))
  }

  /** Dedup-recall acceptance harness — q65's discipline pointed at
    * the DEDUP family: plant mutated twins at three known mutation
    * levels (drop every 4th/6th/10th token — a detection-rate
    * gradient by construction: heavier drops destroy more shared
    * 3-gram shingles), run the production MinHash-LSH pairer over the
    * augmented corpus, and score per-level recall. The number a user
    * reads before trusting the near-dup threshold.
    */
  def q194_dedup_recall(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
      .persist() // feeds the base union, three mutate levels and N
    def mutate(k: Int, off: Long): DataFrame = d.select(
      (col("doc_id") + off).as("doc_id"),
      array_join(filter(TextOps.tokensSimple(col("text")),
        (_, i) => (i + 1) % k =!= 0), " ").as("text"))
    val levels = Seq((1L, 4), (2L, 6), (3L, 10))
    val aug = levels.foldLeft(d) { case (acc, (lvl, k)) =>
      acc.unionByName(mutate(k, lvl * 100000L)) }
    val pairs = Dedup.nearDupPairs(aug, "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.2,
      tokenizer = TextOps.tokensSimple)
    val det = pairs
      .filter(col("id_a") < 100000L && col("id_b") >= 100000L &&
        col("id_b") % 100000L === col("id_a"))
      .groupBy(floor(col("id_b") / 100000L).as("level"))
      .agg(countDistinct(col("id_a")).as("n_detected"))
    val meta = levels.map { case (lvl, k) => (lvl, k) }
      .foldLeft(Option.empty[DataFrame]) { case (acc, (lvl, k)) =>
        val row = d.sparkSession.range(1)
          .select(lit(lvl).as("level"), lit(k).as("drop_every"))
        Some(acc.map(_.unionByName(row)).getOrElse(row))
      }.get
    val n = d.agg(count(lit(1)).as("n_docs"))
    meta.join(det, Seq("level"), "left")
      .na.fill(0L, Seq("n_detected"))
      .crossJoin(broadcast(n))
      .select(col("level"), col("drop_every"), col("n_docs"),
        col("n_detected"),
        round(col("n_detected").cast("double") /
          col("n_docs").cast("double"), 6).as("recall"))
  }

  /** Correlated-subquery surface parity: EXISTS / NOT EXISTS / IN /
    * scalar-subquery flavors over orders×lineitem, each reduced to an
    * integer count — Catalyst rewrites these to semi/anti/broadcast
    * joins; the row pins that the rewrite matches DuckDB's semantics.
    */
  def q195_subquery_parity(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql("""
      SELECT
        (SELECT COUNT(*) FROM orders_v o WHERE EXISTS (
           SELECT 1 FROM lineitem_v l
           WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45))
          AS n_heavy_orders,
        (SELECT COUNT(*) FROM orders_v o WHERE NOT EXISTS (
           SELECT 1 FROM lineitem_v l
           WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45))
          AS n_light_orders,
        (SELECT COUNT(*) FROM orders_v
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem_v WHERE l_discount > 0.09))
          AS n_discounted,
        (SELECT COUNT(*) FROM lineitem_v
         WHERE l_quantity = (SELECT MAX(l_quantity) FROM lineitem_v))
          AS n_at_max_qty""")
  }

  /** TPC-H Q3-shaped shipping priority: segment-filtered customer ⨝
    * orders ⨝ lineitem, revenue per order micro-snapped per row so
    * the sum is an order-free BIGINT, top-10 by (revenue desc,
    * orderdate, orderkey) via per-partition heaps. The dims broadcast;
    * the fact side shuffles once on its join key.
    */
  def q196_shipping_priority(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-03-15"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1995-03-15"))
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("_rev_c")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_orderdate"),
        col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped local-supplier volume: the six-way
    * region→nation→{customer, supplier}→orders→lineitem join with the
    * customer-nation = supplier-nation colocation predicate, revenue
    * per nation as order-free micro-cent BIGINTs. Dims broadcast; the
    * two fact joins are the only shuffles.
    */
  def q197_local_supplier_volume(
      s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = t(s, dir, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("_rev_c")).as("revenue_cents"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q10-shaped returned-item reporting: customers ranked by
    * revenue lost to returns in a quarter — micro-cent BIGINT
    * revenue, dims broadcast, heap top-20.
    */
  def q198_returned_items(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-07-01") &&
        col("o_orderdate") < lit("1995-10-01"))
      .select("o_orderkey", "o_custkey")
    val li = t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
    val cust = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("_rev_c")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)
  }

  /** Nation revenue share: the q197 join chain without the region
    * filter, each nation's share of total revenue against the
    * broadcast 1-row sum.
    */
  def q199_revenue_share(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val per = t(s, dir, "lineitem")
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("_rev_c")).as("revenue_cents"))
    val tot = per.agg(sum(col("revenue_cents")).as("_t"))
    per.crossJoin(broadcast(tot))
      .select(col("n_name"), col("revenue_cents"),
        round(col("revenue_cents").cast("double") /
          col("_t").cast("double"), 6).as("share"))
  }

  /** Pipeline preflight: q99's per-document removal audit rolled up
    * to one row per removal reason — the stage-loss summary a
    * training-data run prints before committing compute.
    */
  def q200_pipeline_preflight(s: SparkSession, dir: String): DataFrame =
    q99_removal_audit(s, dir)
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_docs"))

  /** Join-cardinality estimation from Count-Min sketches — the
    * optimizer-statistics question an engine must answer BEFORE
    * attempting a join at 100 TB: |view ⋈ purchase on user_id| =
    * Σ_u f_v(u)·f_p(u), estimated as the minimum over hash rows of the
    * sketch inner product Σ_b V[r][b]·P[r][b] (Cormode & Muthukrishnan
    * 2005, §4.2). Each side folds to ONE depth×width counter grid
    * (map-side partials, additive merge), the estimate is a driver-free
    * scalar from two broadcast 1-row sketches — the exact answer,
    * computed alongside for the gate, needs a per-key shuffle the
    * estimate exists to avoid. Overcount-only: est_pairs ≥ exact_pairs
    * row for row.
    */
  def q201_join_cardinality(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    Relational.cmsJoinCardinality(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"),
      col("user_id"), col("user_id"),
      depth = 4, width = 1024, withExact = true)
      .select(col("n_left").as("n_view"), col("n_right").as("n_purchase"),
        col("n_keys_both").as("n_users_both"), col("exact_pairs"),
        col("est_pairs"))
  }

  /** DPO/RLHF preference-pair mining: per language, the
    * highest-lexical-diversity document (chosen) against the lowest
    * (rejected) with the score margin — the contrastive-pair shape
    * preference-tuning datasets are built from. Score = type-token
    * ratio in micros (one exact-integer division, so the oracle
    * replays it bit-for-bit); ranking windows are PARTITIONED by the
    * group key, so no global funnel at any corpus size.
    */
  def q202_preference_pairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("_nt"),
        size(array_distinct(split(col("text"), " "))).cast("long")
          .as("_nd"))
      .select(col("doc_id"), col("lang"),
        round(col("_nd") * lit(1000000.0) / col("_nt")).cast("long")
          .as("_score"))
    val up = Window.partitionBy(col("lang"))
      .orderBy(col("_score").desc, col("doc_id"))
    val dn = Window.partitionBy(col("lang"))
      .orderBy(col("_score").asc, col("doc_id"))
    val ranked = scored.select(col("lang"), col("doc_id"), col("_score"),
      row_number().over(up).as("_rb"), row_number().over(dn).as("_rw"))
    val chosen = ranked.filter(col("_rb") === 1)
      .select(col("lang"), col("doc_id").as("chosen_doc"),
        col("_score").as("chosen_score_micro"))
    val rejected = ranked.filter(col("_rw") === 1)
      .select(col("lang"), col("doc_id").as("rejected_doc"),
        col("_score").as("rejected_score_micro"))
    val n = scored.groupBy("lang").agg(count(lit(1)).as("n_candidates"))
    chosen.join(rejected, "lang").join(n, "lang")
      .select(col("lang"), col("chosen_doc"), col("rejected_doc"),
        col("chosen_score_micro"), col("rejected_score_micro"),
        (col("chosen_score_micro") - col("rejected_score_micro"))
          .as("margin_micro"),
        col("n_candidates"))
  }

  /** SQuAD-style token-F1 eval scoring: per-document multiset overlap
    * between a reference answer (first 8 tokens) and a prediction
    * derived from it by two deterministic doc_id-keyed corruptions
    * (drop-last when %3=0, first-token swap when %5=0) — the scoring
    * kernel of an LLM eval harness. Entirely per-row higher-order
    * array functions: zero shuffles, zero UDFs, the whole query is one
    * codegen'd scan at any corpus size. P/R/F1 are micros from single
    * exact-integer divisions.
    */
  def q203_eval_f1(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val ref = slice(toks, 1, 8)
    val base = docs(s, dir).select(col("doc_id"), ref.as("_ref"))
    val dropped = when(col("doc_id") % 3 === 0,
      slice(col("_ref"), lit(1), greatest(size(col("_ref")) - 1, lit(0))))
      .otherwise(col("_ref"))
    val withPred = base.select(col("doc_id"), col("_ref"),
      dropped.as("_dp"))
      .select(col("doc_id"), col("_ref"),
        when(col("doc_id") % 5 === 0 && size(col("_dp")) >= 1,
          concat(array(lit("the")),
            slice(col("_dp"), lit(2), greatest(size(col("_dp")) - 1, lit(0)))))
          .otherwise(col("_dp")).as("_pred"))
    val overlap = TextOps.multisetOverlap(col("_pred"), col("_ref"))
    withPred
      .select(col("doc_id"),
        size(col("_pred")).cast("long").as("n_pred"),
        size(col("_ref")).cast("long").as("n_ref"),
        overlap.as("overlap"))
      .select(col("doc_id"), col("n_pred"), col("n_ref"), col("overlap"),
        when(col("n_pred") === 0, lit(0L)).otherwise(
          round(col("overlap") * lit(1000000.0) / col("n_pred"))
            .cast("long")).as("p_micro"),
        when(col("n_ref") === 0, lit(0L)).otherwise(
          round(col("overlap") * lit(1000000.0) / col("n_ref"))
            .cast("long")).as("r_micro"),
        when(col("n_pred") + col("n_ref") === 0, lit(0L)).otherwise(
          round(col("overlap") * lit(2000000.0) /
            (col("n_pred") + col("n_ref"))).cast("long")).as("f1_micro"))
  }

  /** Entity resolution: multi-pass blocking + edit-distance verify +
    * connected-component merge over a deterministically-dirtied
    * customer registry (every 7th record gets a one-char-corrupted
    * duplicate). Two complementary blocking passes (name halves) make
    * candidate generation an equi-join on SHORT keys — a corruption
    * can hit only one half, so the other pass recovers the pair, and
    * block sizes stay O(1) as the registry grows. Verification
    * (levenshtein ≤ 2) touches candidates only; the merge reuses the
    * dedup family's pointer-jumping CC ([[graft.text.Dedup.clusterLabels]]).
    */
  def q204_entity_resolution(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val baseName = md5(col("c_custkey").cast("string")).substr(1, 12)
    val base = cust.select((col("c_custkey") * 2).as("rec_id"),
      baseName.as("name"))
    val p = (col("c_custkey") % 12 + 1).cast("int")
    val dirty = cust.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") * 2 + 1).as("rec_id"),
        concat(baseName.substr(lit(1), p - 1), lit("z"),
          baseName.substr(p + 1, lit(12))).as("name"))
    val records = base.union(dirty)
    Dedup.resolveEntities(records, "rec_id", "name",
      maxEdit = 2, halfLen = 6, blockCap = 64, hotWindow = 8)
  }

  /** Distributed PCA, sketch tier: top principal direction of the
    * embedding cloud via (a) a deterministic hash-sampled, milli-int
    * quantized Gram matrix — d×d integer sums, order-free, one
    * aggregation pass over O(sample·d²) exploded products — and (b)
    * SIX unrolled power-iteration steps computed INSIDE the plan on
    * the single Gram row (integer mat-vec, max-abs renormalization to
    * micro scale each step). The textbook 100 TB shape: the corpus
    * contributes only the d² Gram (distributed, additive), the
    * eigensolve is O(T·d²) on one row — no driver loop, no collect.
    * Gram is PSD, so power iteration is sign-stable; every step is
    * exact-integer or a single mirrored IEEE divide, so the oracle
    * replays all six steps bit-for-bit.
    */
  def q205_pca_power(s: SparkSession, dir: String): DataFrame =
    SimSearch.pcaPowerTop(
      t(s, dir, "embeddings")
        .filter(TextOps.hash32(col("vec_id").cast("string")) % 4 === 0),
      "embedding", dim = 64, iters = 6)

  /** Bloom-prefiltered fact-dim join — the RUNTIME-FILTER pattern: the
    * tiny filtered dim side builds a broadcast Bloom filter
    * ([[graft.functions.BloomXX]]), the 100 TB fact side probes it IN
    * THE SCAN STAGE so non-matching rows never reach the shuffle, and
    * the exact join afterwards removes the (fpp-bounded) false
    * positives — row-identical to the unfiltered join, which is
    * therefore the oracle. At scale this is the difference between
    * shuffling 100 TB of lineitem and shuffling the ~0.1% that can
    * match an urgent-March-1995 order.
    */
  def q206_bloom_join_prune(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1995-03-01") &&
        col("o_orderdate") < lit("1995-04-01"))
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
    Relational.bloomPrefilteredJoin(li, ord,
      col("l_orderkey"), col("o_orderkey"), fpp = 0.01)
      .groupBy(col("o_orderdate"))
      .agg(sum(col("_rev_c")).as("revenue_cents"),
        count(lit(1)).as("n_items"))
  }

  /** CUPED variance-reduced A/B readout (Deng et al. 2013): per-variant
    * purchase revenue in the experiment window, adjusted by each
    * user's PRE-period activity covariate — mean_adj = mean_y −
    * θ·(mean_x − mean_x_all) with θ = cov(x,y)/var(x). Per-user sums
    * are milli-int (exact, order-free); the moment aggregates run in
    * decimal(38,0) (mirrors DuckDB's HUGEINT), so θ and the adjusted
    * means come from identical integer values through single mirrored
    * IEEE chains. One pass over events, one G-row variant table, one
    * broadcast 1-row moment join — nothing scales with user count but
    * the per-user groupBy.
    */
  def q207_cuped(s: SparkSession, dir: String): DataFrame =
    EventOps.cuped(t(s, dir, "events"),
      splitSec = 1705363200L, // 2024-01-16 UTC
      convKind = "purchase")

  /** Graded-relevance retrieval eval: nDCG@10 of a term-frequency
    * ranking against doc_id-derived relevance grades — the
    * ranking-quality scorer an eval harness runs beside q203's token
    * F1 and q140's PR curve. The top-10 comes from a heap
    * (TakeOrdered, never a global sort); positions come from ONE
    * bounded 10-struct fold (sorted collect + posexplode), not a
    * global window. Every DCG term is micro-snapped — gains are exact
    * ints, the log discount uses the engine's micro-nat ln idiom, one
    * mirrored IEEE division per term — so DCG/IDCG/nDCG integer-sum
    * and replay exactly.
    */
  def q208_ndcg(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir)
      .select(col("doc_id"),
        size(filter(TextOps.tokensSimple(col("text")),
          x => x === lit("data"))).cast("long").as("_tf"),
        (col("doc_id") % 4).as("_rel"))
    Relational.ndcgAtK(scored, col("doc_id"), col("_tf"), col("_rel"),
      k = 10, maxRel = 3)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("score", "tf")
  }

  /** TPC-H Q14-shaped promo revenue share: one month of lineitem
    * against the broadcast part dim, promo vs total revenue as
    * order-free micro-cent BIGINTs, share via a single division.
    */
  def q209_promo_revenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
    li.join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("_rev_c"))
          .otherwise(lit(0L))).as("promo_cents"),
        sum(col("_rev_c")).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        when(col("total_cents") === 0, lit(null).cast("double"))
          .otherwise(round(col("promo_cents").cast("double") * 100.0 /
            col("total_cents").cast("double"), 6)).as("promo_share_pct"))
  }

  /** TPC-H Q17-shaped small-quantity revenue: lineitems below 20% of
    * their part's average quantity, restricted to one brand. The
    * per-part average never divides — `q < 0.2*avg` is rewritten as
    * the exact integer predicate `5*q*cnt < sum` — so the filter is
    * replay-exact. The per-part stats table is small (|part| rows)
    * and broadcasts back onto the fact side.
    */
  def q210_small_qty_revenue(s: SparkSession, dir: String): DataFrame = {
    val brandParts = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#23").select("p_partkey")
    val li = t(s, dir, "lineitem")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("_q"),
        round(col("l_extendedprice") * lit(100.0)).cast("long")
          .as("_price_c"))
      .persist() // feeds the stats agg AND the join-back — one scan
    val stats = li.groupBy(col("l_partkey").as("_pk"))
      .agg(sum(col("_q")).as("_sum_q"), count(lit(1)).as("_cnt_q"))
    li.join(broadcast(stats), col("l_partkey") === col("_pk"))
      .filter(col("_q") * lit(5L) * col("_cnt_q") < col("_sum_q"))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("_price_c")), lit(0L)).as("small_qty_cents"))
  }

  /** TPC-H Q18-shaped large-volume orders: orders whose total line
    * quantity exceeds 300, joined back to customer. The having-filter
    * aggregate is tiny after the threshold, so AQE turns the
    * join-back into a broadcast at runtime; quantities are exact
    * BIGINTs and the price snaps through one round(x*100).
    */
  def q211_big_orders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(col("o_totalprice") * lit(100.0)).cast("long")
          .as("total_cents"))
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("total_cents"), col("sum_qty"))
      .orderBy(col("total_cents").desc, col("o_orderkey"))
      .limit(20)
  }

  /** TPC-H Q13-shaped customer order-count distribution: left join
    * customers to orders, count per customer (NULL-skipping, so
    * order-less customers land in the 0 bucket), then histogram the
    * counts. Two shuffles, both on bounded key spaces.
    */
  def q212_order_count_distribution(
      s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "customer").select("c_custkey")
      .join(t(s, dir, "orders").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q15-shaped top supplier: quarterly revenue per supplier in
    * micro-cent BIGINTs, the max read off a 1-row aggregate and
    * re-joined as an EQUI condition (BroadcastHashJoin, not a nested
    * loop), ties all kept.
    */
  def q213_top_supplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("_rev_c")).as("total_cents"))
      .persist() // tiny per-supplier agg feeds the max AND the join
    val mx = rev.agg(max(col("total_cents")).as("_m"))
    rev.join(broadcast(mx), col("total_cents") === col("_m"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_cents"))
  }

  /** TPC-H Q19-shaped disjunctive filter: three brand/size/quantity
    * conjuncts OR'd over the lineitem × broadcast part join — the
    * shape that exercises OR-predicate pushdown and join-condition
    * hygiene (the OR must not degrade the equi-join).
    */
  def q214_disjunctive_filter(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
    val p = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("_rev_c")), lit(0L)).as("revenue_cents"))
  }

  /** TPC-H Q22-shaped dormant high-value customers: customers with an
    * above-average positive balance and NO orders since 1999 (left
    * anti join), rolled up per nation. The average never divides:
    * `bal > avg` is the exact centi-unit integer predicate
    * `bal_c * n > sum_c` against the broadcast 1-row positive-balance
    * totals.
    */
  def q215_dormant_customers(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * lit(100.0)).cast("long").as("_bal_c"))
      .persist() // feeds the totals agg AND the anti-join chain
    val tot = cust.filter(col("_bal_c") > 0)
      .agg(sum(col("_bal_c")).as("_sum_c"), count(lit(1)).as("_n_pos"))
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01"))
      .select("o_custkey")
    cust
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(tot))
      .filter(col("_bal_c") * col("_n_pos") > col("_sum_c"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("_bal_c")).as("total_bal_cents"))
  }

  /** TPC-H Q4-shaped late-order priority census: one quarter of
    * orders kept only if ANY of their lineitems shipped more than 90
    * days after the order date (left-semi join — the EXISTS shape),
    * counted per priority bucket. The semi join hashes on the order
    * key; the date predicate rides along as a residual condition, so
    * no second pass over lineitem.
    */
  def q216_late_order_priority(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
      .select("o_orderkey", "o_orderpriority", "o_orderdate")
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '90' DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** TPC-H Q7-shaped bilateral trade volume: revenue shipped between
    * two named nations (both directions), bucketed by ship year. The
    * supplier and customer nation lookups broadcast; lineitem→orders
    * and orders→customer shuffle once each on their join keys. The
    * nation-pair filter lands right after the broadcasts so the fact
    * stream thins before the wide shuffle.
    */
  def q217_trade_volume(s: SparkSession, dir: String): DataFrame = {
    val sup = broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("supp_nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation"))
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "cust_nation")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" &&
          col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("_rev_c")).as("revenue_cents"))
  }

  /** TPC-H Q8-shaped market share: of all revenue flowing to
    * customers in one region, the share supplied by one nation, per
    * order year. Both numerator and denominator are order-free
    * micro-cent BIGINTs from the SAME aggregation pass; the share is
    * the single division at the end.
    */
  def q218_market_share(s: SparkSession, dir: String): DataFrame = {
    val euCust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_regionkey")
          .join(t(s, dir, "region")
              .filter(col("r_name") === "EUROPE").select("r_regionkey"),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val supNat = broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("_supp_nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "_supp_nation"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      .join(euCust, col("o_custkey") === col("c_custkey"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supNat, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("_supp_nation") === "NATION_7", col("_rev_c"))
          .otherwise(lit(0L))).as("nation_cents"),
        sum(col("_rev_c")).as("total_cents"))
      .select(col("o_year"), col("nation_cents"), col("total_cents"),
        when(col("total_cents") === 0, lit(null).cast("double"))
          .otherwise(round(col("nation_cents").cast("double") /
            col("total_cents").cast("double"), 6)).as("mkt_share"))
  }

  /** TPC-H Q9-shaped product-line profit: revenue on parts whose name
    * matches a keyword, attributed to the SUPPLIER's nation per ship
    * year. The name-filtered part set and the supplier→nation map
    * both broadcast, so lineitem is filtered and annotated without a
    * fact-side shuffle until the final bounded group-by.
    */
  def q219_product_profit(s: SparkSession, dir: String): DataFrame = {
    val gearParts = broadcast(t(s, dir, "part")
      .filter(col("p_name").contains("gear")).select("p_partkey"))
    val supNat = broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "nation"))
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("_rev_c"))
      .join(gearParts, col("l_partkey") === col("p_partkey"))
      .join(supNat, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), col("l_year"))
      .agg(sum(col("_rev_c")).as("profit_cents"))
  }

  /** TPC-H Q12-shaped priority-by-returnflag census: one ship year of
    * lineitem joined to its orders, counting urgent/high vs lower
    * priority lines per return flag. One shuffle on the order key;
    * the CASE counts are exact BIGINTs.
    */
  def q220_priority_lines(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select("l_orderkey", "l_returnflag")
      .join(t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(hi, lit(1L)).otherwise(lit(0L))).as("high_line_count"),
        sum(when(hi, lit(0L)).otherwise(lit(1L))).as("low_line_count"))
  }

  /** TPC-H Q16-shaped supplier diversity: distinct suppliers that
    * shipped each (brand, size) slice of the catalog, using lineitem
    * as the part↔supplier bridge and anti-joining away a suppressed
    * supplier list (the NOT IN shape; here: negative balances). The
    * distinct-pair projection collapses the bridge before the count,
    * and both dim lookups broadcast.
    */
  def q221_supplier_diversity(s: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#23" && col("p_size") <= 25)
      .select("p_partkey", "p_brand", "p_size"))
    val banned = broadcast(t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey"))
    t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(banned, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .select("p_brand", "p_size", "l_suppkey").distinct()
      .groupBy(col("p_brand"), col("p_size"))
      .agg(count(lit(1)).as("supplier_cnt"))
  }

  /** TPC-H Q21-shaped lone-late-supplier audit: finished orders where
    * a supplier shipped 60+ days after the order date, another
    * supplier shared the order (EXISTS → left-semi), and NO other
    * supplier was also late (NOT EXISTS → left-anti). All three
    * probes are equi-joins on the order key with supplier-inequality
    * residuals; the final name join broadcasts.
    */
  def q222_lone_late_supplier(s: SparkSession, dir: String): DataFrame = {
    val ordF = t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val late = li
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '60' DAY"))
      .select("l_orderkey", "l_suppkey")
      .persist() // the late set probes itself (NOT EXISTS) — one build
    val others = li
      .select(col("l_orderkey").as("_ok2"), col("l_suppkey").as("_sk2"))
    val lateOthers = late
      .select(col("l_orderkey").as("_ok3"), col("l_suppkey").as("_sk3"))
    late
      .join(others,
        col("l_orderkey") === col("_ok2") && col("l_suppkey") =!= col("_sk2"),
        "left_semi")
      .join(lateOthers,
        col("l_orderkey") === col("_ok3") && col("l_suppkey") =!= col("_sk3"),
        "left_anti")
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** TPC-H Q2-shaped min-cost supplier: within one catalog slice, the
    * supplier(s) selling each part at its minimum observed unit price.
    * Unit price snaps through ONE double division then round — replay-
    * exact — and the per-part minimum re-joins as an equi condition
    * (the correlated-subquery shape, q213's pattern), keeping ties.
    */
  def q223_min_cost_supplier(s: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(t(s, dir, "part")
      .filter(col("p_type") === "STANDARD" && col("p_size") <= 10)
      .select("p_partkey", "p_brand"))
    val unit = t(s, dir, "lineitem")
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") / col("l_quantity") * lit(100.0))
          .cast("long").as("_unit_c"))
      .join(parts, col("l_partkey") === col("p_partkey"))
    val perSupp = unit.groupBy(col("l_partkey"), col("p_brand"),
        col("l_suppkey"))
      .agg(min(col("_unit_c")).as("min_cents"))
      .persist() // bounded (part×supplier) agg feeds min AND join
    val perPart = perSupp.groupBy(col("l_partkey").as("_pk"))
      .agg(min(col("min_cents")).as("_best"))
    perSupp
      .join(perPart,
        col("l_partkey") === col("_pk") && col("min_cents") === col("_best"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("p_brand"),
        col("s_suppkey"), col("s_name"), col("min_cents"))
  }

  /** TPC-H Q11-shaped important inventory: parts whose shipped value
    * exceeds 1/1500 of the corpus total (≈ the top decile at the gate
    * SF). The share test never divides — `value > total/1500` is the
    * exact integer predicate `value_c * 1500 > total_c` against the
    * broadcast 1-row total.
    */
  def q224_important_parts(s: SparkSession, dir: String): DataFrame = {
    val value = t(s, dir, "lineitem")
      .select(col("l_partkey"),
        round(col("l_extendedprice") * lit(100.0)).cast("long")
          .as("_val_c"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("_val_c")).as("value_cents"))
      .persist() // |part|-row agg feeds the total AND the filter
    val tot = value.agg(sum(col("value_cents")).as("_total_c"))
    value.crossJoin(broadcast(tot))
      .filter(col("value_cents") * lit(1500L) > col("_total_c"))
      .select(col("l_partkey"), col("value_cents"))
  }

  /** TPC-H Q20-shaped high-volume keyword shippers: suppliers that
    * moved more than 100 units of name-matched parts in one year,
    * with their nation attached. The keyword part set broadcasts, the
    * having-filtered supplier aggregate is tiny, and the name/nation
    * joins broadcast onto it.
    */
  def q225_keyword_shippers(s: SparkSession, dir: String): DataFrame = {
    val redParts = broadcast(t(s, dir, "part")
      .filter(col("p_name").startsWith("red")).select("p_partkey"))
    val vol = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 100)
    vol
      .join(broadcast(t(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("nation"),
        col("total_qty"))
  }

  /** Mean reciprocal rank over the q208-style ranking fixture: per
    * query the rank of the first relevant hit (min over an exact
    * integer rank — no window), reciprocal snapped to micros, corpus
    * MRR as ONE division of exact integer sums. The eval twin of
    * nDCG@k for first-hit retrieval quality.
    */
  def q226_mrr(s: SparkSession, dir: String): DataFrame = {
    // deterministic fixture from the documents table: 50 queries, 20
    // ranked candidates each; relevance = md5-derived bit (q208's
    // discipline: everything replays from doc_id arithmetic)
    val d = t(s, dir, "documents")
      .filter(col("doc_id") < 1000)
      .select(
        (col("doc_id") % 50).as("qid"),
        floor(col("doc_id") / 50).cast("long").as("rank0"),
        (TextOps.hash32(concat_ws("|",
          lit("mrr"), col("doc_id"))) % 8 === 0).cast("int").as("rel"))
    Relational.mrrAtRank(d, col("qid"), col("rank0"), col("rel"))
  }

  /** ROUGE-2 recall + BLEU-2 generation-eval scores over q203-style
    * deterministically perturbed candidate/reference pairs: bigram
    * multiset overlap via [[graft.text.TextOps.shingles]] +
    * [[graft.text.TextOps.multisetOverlap]] — zero shuffles, all
    * array lambdas in the scan stage. Ratios snap to micros; BLEU-2 =
    * brevity penalty × √(p1·p2) with ONE fixed IEEE chain (the exp /
    * sqrt discipline q177 pinned).
    */
  def q227_rouge_bleu(s: SparkSession, dir: String): DataFrame = {
    val toks = slice(split(col("text"), " "), 1, 12)
    val base = docs(s, dir).select(col("doc_id"), toks.as("_ref"))
    // candidate = reference with a deterministic dropped-head (every
    // 2nd doc) and a substituted 3rd token (every 5th doc)
    val withDp = base.select(col("doc_id"), col("_ref"),
      when(col("doc_id") % 2 === 0,
        slice(col("_ref"), lit(2), greatest(size(col("_ref")) - 1, lit(0))))
        .otherwise(col("_ref")).as("_dp"))
    val withCand = withDp.select(col("doc_id"), col("_ref"),
      when(col("doc_id") % 5 === 0 && size(col("_dp")) >= 3,
        concat(slice(col("_dp"), 1, 2), array(lit("the")),
          slice(col("_dp"), lit(4), greatest(size(col("_dp")) - 3, lit(0)))))
        .otherwise(col("_dp")).as("_cand"))
    TextOps.generationScores(withCand, "doc_id",
      col("_cand"), col("_ref"))
  }

  /** Chi-square independence test (variant × converted) — the
    * categorical sibling of the q189 two-proportion z-test. Per-user
    * heavy-purchaser flags fold to a 2×2 contingency table; expected
    * counts come from exact BIGINT margin products with ONE division,
    * and each (O−E)²/E term snaps to micros so the statistic is an
    * order-free integer sum. Margins and N are tiny broadcast sides.
    */
  def q228_chi_square(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", lit(1L))
        .otherwise(lit(0L))).as("_np"))
      .select((col("user_id") % 2).cast("int").as("variant"),
        when(col("_np") >= 14, lit(1)).otherwise(lit(0)).as("converted"))
    Relational.chiSquareIndependence(per, "variant", "converted")
  }

  /** Per-source Spearman rank correlation (length vs token count)
    * WITHOUT a global window: average-tie ranks come from per-source
    * prefix sums over the DISTINCT-VALUE table (doubled to stay
    * integer — r2 = 2·cumLess + cnt + 1), so the corpus itself never
    * enters a window and the window that does run partitions by
    * source over ≤|distinct values| rows. The correlation is Pearson
    * on the integer ranks: decimal(38,0) moment sums (q207's
    * discipline), one numerator, two sqrts, one division.
    */
  def q229_spearman(s: SparkSession, dir: String): DataFrame = {
    Relational.spearmanByGroup(docs(s, dir), "source",
      col("n_chars"), size(split(col("text"), " ")).cast("long"))
      .withColumnRenamed("n_rows", "n_docs")
  }

  /** Benford first-digit screen over purchase values: the leading
    * digit comes from the EXACT milli-unit BIGINT rendered as a
    * string (no float formatting, no log-floor edge cases), expected
    * shares are micro-snapped log10(1+1/d), and the deviation is one
    * subtraction of micros. The fraud/entry-error smell test for any
    * financial value column.
    */
  def q230_benford(s: SparkSession, dir: String): DataFrame = {
    Relational.benfordScreen(
      t(s, dir, "events").filter(col("event_type") === "purchase"),
      round(col("value") * lit(1000.0)).cast("long"))
  }

  /** Referential-integrity audit over the star schema's FK edges —
    * three real edges (expected clean) plus one against the
    * active-customer subset, which manufactures deterministic orphans
    * so the audit's counting arm is exercised, not just its
    * all-zeros happy path. Each edge is one key-only left join
    * aggregated to a single row.
    */
  def q231_fk_audit(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val prt = t(s, dir, "part")
    Diagnose.fkOrphanAudit(Seq(
      Diagnose.FkEdge("lineitem->orders", li, col("l_orderkey"),
        ord, col("o_orderkey")),
      Diagnose.FkEdge("lineitem->part", li, col("l_partkey"),
        prt, col("p_partkey")),
      Diagnose.FkEdge("orders->customer", ord, col("o_custkey"),
        cust, col("c_custkey")),
      Diagnose.FkEdge("orders->customer_active", ord, col("o_custkey"),
        cust.filter(col("c_acctbal") > 0), col("c_custkey"))))
  }

  /** SCD2 dimension history from the event changelog: per user, runs
    * of consecutive equal event types collapse to versions with
    * validity intervals — every window partitions by user, the
    * valid-to lookup is an ids-only self equi-join.
    */
  def q232_scd2_history(s: SparkSession, dir: String): DataFrame =
    Relational.scd2History(t(s, dir, "events"), "user_id",
      col("ts"), col("event_id"), col("event_type"))

  /** Snapshot diff between orders and a deterministic synthetic v2
    * (the q128 synthetic-snapshot convention): keys ≡ 0 (mod 97)
    * removed, priorities rewritten at keys ≡ 0 (mod 13), negated-key
    * copies added at keys ≡ 0 (mod 101). One full outer join on the
    * key is the only corpus-scale op; the counters unpivot from a
    * single aggregated row.
    */
  def q233_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"))
    val v2 = o.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 13 === 0, lit("X-RUSH"))
          .otherwise(col("o_orderpriority")))
      .unionByName(o.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", -col("o_orderkey")))
    Relational.snapshotDiff(o, v2, Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
  }

  /** Per-source ROC-AUC of doc length as an is-English classifier —
    * the Mann-Whitney rank-sum identity with doubled average-tie
    * ranks from prefix sums over the distinct-score table (q229's
    * rank discipline); no global window, no join back to rows.
    */
  def q234_roc_auc(s: SparkSession, dir: String): DataFrame =
    Relational.rocAucByGroup(t(s, dir, "documents"), "source",
      col("n_chars"), (col("lang") === lit("en")).cast("long"))

  /** Cohen's kappa between the n-gram language-ID prediction (q53's
    * classifier) and the labeled language — chance-corrected
    * agreement beside q183's confusion matrix. One contingency pass;
    * the cell table feeds diagonal, margins and N.
    */
  def q235_cohen_kappa(s: SparkSession, dir: String): DataFrame = {
    val pred = docs(s, dir).select(col("lang"),
      TextOps.langIdProfile(
        TextOps.charGrams(lower(col("text")), 3), gateLangProfiles)
        .as("lang_pred"))
    Relational.cohenKappa(pred, col("lang_pred"), col("lang"))
  }

  /** Daily OHLC bars over purchase values in exact cents: open/close
    * via struct min/max on (epoch, event_id) — one aggregation pass,
    * no window, no sort; VWAP micro-snapped.
    */
  def q236_ohlc_bars(s: SparkSession, dir: String): DataFrame =
    Relational.ohlcBars(
      t(s, dir, "events").filter(col("event_type") === "purchase"),
      col("ts"), col("event_id"),
      round(col("value") * lit(100.0)).cast("long"), 86400L)

  /** Order-free per-source content fingerprint of the documents
    * table: XOR fold of 60-bit md5 row hashes — the snapshot-equality
    * check that needs no sort and no row shipping.
    */
  def q237_dataset_fingerprint(s: SparkSession, dir: String): DataFrame =
    Relational.datasetFingerprint(t(s, dir, "documents"), "source",
      Seq("doc_id", "text", "lang", "n_chars"))

  /** The shared per-(event_type, day) count series the time-series
    * screens consume — one corpus groupBy, bounded output.
    */
  private def dailySeries(s: SparkSession, dir: String): DataFrame =
    TimeSeries.dailyCounts(t(s, dir, "events"), "event_type", col("ts"))

  /** Mann-Kendall monotone-trend screen over the daily event-type
    * series: sign pairs from a bounded series self-join, tie-corrected
    * variance, continuity-corrected z in micros.
    */
  def q238_trend_screen(s: SparkSession, dir: String): DataFrame =
    TimeSeries.mannKendallTrend(dailySeries(s, dir), "event_type")

  /** CUSUM changepoint screen: exact-integer cumulative deviations
    * against the micro-snapped mean, argmax |C| with earliest-day
    * ties, per event type.
    */
  def q239_changepoint(s: SparkSession, dir: String): DataFrame =
    TimeSeries.cusumChangepoint(dailySeries(s, dir), "event_type")

  /** Lag-1..3 autocorrelation of the daily series per event type —
    * lagged pairs via equi self-joins on (type, day + k), exact
    * integer moments, one division per lag.
    */
  def q240_autocorr(s: SparkSession, dir: String): DataFrame =
    TimeSeries.autocorrByGroup(dailySeries(s, dir), "event_type", 3)

  /** Kaplan-Meier user-lifetime survival curve with right-censoring
    * at the last observed day: one per-user groupBy over events, then
    * exact-integer log-survival folds over the bounded
    * distinct-lifetime table.
    */
  def q241_kaplan_meier(s: SparkSession, dir: String): DataFrame =
    TimeSeries.kaplanMeier(t(s, dir, "events"), "user_id", col("ts"))

  /** Incremental materialized-aggregate maintenance, hash-pinned to
    * a full recompute: events split at mid-month into a "history"
    * state and a "delta" state, both folded to mergeable per-type
    * aggregates (count/sum/min/max + KMV distinct-user sketch), then
    * combined with one |groups|-sized merge. The ORACLE computes the
    * same report straight from the full table — merge == recompute is
    * the row the gate compares.
    */
  def q242_incremental_agg(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cents = round(col("value") * lit(100.0)).cast("long")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val history = Incremental.aggState(ev.filter(col("ts") < cut),
      "event_type", cents, col("user_id"))
    val delta = Incremental.aggState(ev.filter(col("ts") >= cut),
      "event_type", cents, col("user_id"))
    Incremental.stateReport(
      Incremental.mergeAggState(Seq(history, delta), "event_type"),
      "event_type")
  }

  /** The q243 blocklist — shared verbatim with the oracle generator so
    * both engines scan for the same terms.
    */
  val gateBlocklist: Seq[String] = Seq(
    "the ", "and ", "data", "tion", "ing ", "qual", "of the",
    "pre", "zzzzqq", "xylophone")

  /** Aho-Corasick blocklist screen: distinct-term hits and the
    * earliest-starting term per document in ONE text pass
    * ([[graft.functions.MultiMatchXX]]) — vs the |terms| `contains`
    * scans the naive plan pays. The oracle replays presence via
    * per-term strpos and the first-term rule via the (position, index)
    * sort, which is order-identical however an engine counts
    * characters.
    */
  def q243_blocklist(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        TextOps.multiMatch(col("text"), gateBlocklist).as("_m"))
      .select(col("doc_id"),
        col("_m").getField("n_matched").as("n_matched"),
        col("_m").getField("first_term").as("first_term"))

  /** Deterministic replay of the STREAMING materialized-aggregate
    * twin ([[graft.streaming.StreamingAggState]]) — q242's sibling
    * with the incremental state machinery in the loop: two event
    * drops fold through `processBatch` into bucketed crash-safe
    * state, batch 1 is REPLAYED to prove the per-bucket watermark
    * makes count/sum merging exactly-once, and the report off the
    * state is hash-compared to the oracle's full recompute. EAGER
    * like q125: construction writes real state; the returned frame is
    * the localCheckpoint'ed report.
    */
  def q244_streaming_agg_replay(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingAggState
    val ev = t(s, dir, "events")
    val cents = round(col("value") * lit(100.0)).cast("long")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val base = java.nio.file.Files.createTempDirectory("graft_saggstate")
    try {
      val statePath = base.resolve("state").toString
      def run(pred: Column, id: Long): Unit =
        StreamingAggState.processBatch(ev.filter(pred), id, statePath,
          "event_type", cents, col("user_id"), buckets = 4)
      run(col("ts") < cut, 0L)
      run(col("ts") >= cut, 1L)
      run(col("ts") >= cut, 1L) // at-least-once replay: must be a no-op
      StreamingAggState.report(s, statePath, "event_type")
        .localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Welch's unequal-variance t-test on purchase values between the
    * user-parity variants — the continuous-measure companion of
    * q189's conversion z-test. One moment pass; t and the
    * Welch-Satterthwaite df derive from six exact integers.
    */
  def q245_welch_ttest(s: SparkSession, dir: String): DataFrame =
    Relational.welchTTest(
      t(s, dir, "events").filter(col("event_type") === "purchase"),
      col("user_id") % 2 === 1,
      round(col("value") * lit(100.0)).cast("long"))

  /** Theil-Sen robust slope of the daily event-type series — the
    * magnitude companion of q238's Mann-Kendall direction test, from
    * the same bounded series self-join; median of micro-snapped
    * pairwise slopes.
    */
  def q246_theil_sen(s: SparkSession, dir: String): DataFrame =
    TimeSeries.theilSenSlope(dailySeries(s, dir), "event_type")

  /** CDC apply (MERGE with deletes): a deterministic change batch —
    * tombstones at keys ≡ 0 (mod 97), priority updates at keys ≡ 0
    * (mod 13) not tombstoned, negated-key inserts at keys ≡ 0
    * (mod 101) — applied to orders through the one-hash-agg
    * [[Ingest.cdcApply]]. The change sets are disjoint per key, so the
    * oracle is q233's synthetic v2 built DIRECTLY: apply(base, cdc)
    * must equal the target snapshot row for row.
    */
  def q247_cdc_apply(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_orderdate"))
    val del = o.filter(col("o_orderkey") % 97 === 0)
      .withColumn("_op", lit("D"))
    val upd = o.filter(col("o_orderkey") % 13 === 0 &&
        col("o_orderkey") % 97 =!= 0)
      .withColumn("o_orderpriority", lit("X-RUSH"))
      .withColumn("_op", lit("U"))
    val ins = o.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", -col("o_orderkey"))
      .withColumn("_op", lit("I"))
    Ingest.cdcApply(o, del.unionByName(upd).unionByName(ins),
      Seq("o_orderkey"), "_op", "o_orderdate")
  }

  /** Drive the events table through the incremental funnel state in
    * four event-time-ordered micro-batches (the twins' documented
    * exactness precondition — the q125 replay shape), then hand the
    * state path to `f` for the report under test. EAGER by nature;
    * the temp state tree is deleted before returning.
    */
  private def replayFunnelState(
      s: SparkSession, dir: String, stages: Seq[String])(
      f: String => DataFrame): DataFrame = {
    import graft.streaming.StreamingFunnel
    val ev = t(s, dir, "events")
    val Array(lo, hi) = ev
      .agg(min(col("ts").cast("long")), max(col("ts").cast("long")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val base = java.nio.file.Files.createTempDirectory("graft_sfunnel")
    try {
      val statePath = base.resolve("state").toString
      val step = math.max((hi - lo) / 4 + 1, 1L)
      (0 until 4).foreach { i =>
        val (bLo, bHi) = (lo + i * step, lo + (i + 1) * step)
        // buckets = 4 at gate SF: the swap cost is per bucket DIRECTORY
        // (task/file overhead dominates on a small state); production
        // states size buckets to ~10⁷ rows each
        StreamingFunnel.processBatch(
          ev.filter(col("ts").cast("long") >= bLo &&
            col("ts").cast("long") < bHi),
          statePath, stages, buckets = 4)
      }
      f(statePath).localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** The production preflight run the way production runs it: the
    * removal audit computes ONCE and persists as the ids-only lineage
    * artifact ([[graft.text.Pipeline.writeRemovalAudit]]), then the
    * per-verdict rollup reads the ARTIFACT — the corpus is never
    * re-scored (q200 pays the q99 cascade twice by gate construction;
    * this query pins the artifact path a real deployment uses). EAGER
    * like q26 (the artifact write is a job); the rollup is
    * localCheckpoint'ed and the temp artifact tree deleted before
    * returning.
    */
  def q248_preflight_artifact(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_audit")
    try {
      val p = base.resolve("audit").toString
      graft.text.Pipeline.writeRemovalAudit(q99_removal_audit(s, dir), p)
      graft.text.Pipeline.preflightFromAudit(
        graft.text.Pipeline.readRemovalAudit(s, p)).localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** The OPQ-rotated residual IVFADC-R chain (q123 + the Ge et al.
    * 2013 parametric-lite rotation): the energy-balancing permutation
    * is LEARNED from the residual distribution in-plan (milli-snapped
    * integer energies → rank → serpentine deal), applied before the
    * sub-vector split on both the corpus residuals and the per-cell
    * query residuals, and the whole rotated chain — permutation
    * derivation included — hash-gates against the SQL replay. Recall
    * lift over the unrotated chain at equal m/k is pinned in IvfSpec.
    */
  def q250_opq_residual(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("cell", col("label"))
      .persist()
    val cen = SimSearch.ivfCentroids(emb, "vec_id", "embedding", "cell",
      dim = 64, bucketWidth = 128L).persist()
    val perm = SimSearch.opqPermutation(emb, cen, "vec_id", "embedding",
      "cell", m = 2, dim = 64).persist()
    val frame = SimSearch.PqFrame.Permuted(cen, perm)
    val cb = SimSearch.pqFit(emb, "vec_id", "embedding", m = 2, k = 4,
      iters = 2, dim = 64, bucketWidth = 128L, frame = frame).persist()
    val codes = SimSearch.pqEncode(emb, cb, "vec_id", "embedding",
      m = 2, dim = 64, frame = frame)
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .persist()
    val queries = emb.filter(col("vec_id") < 20)
    SimSearch.rerankExact(SimSearch.ivfPqTopK(codes, cb, cen, queries,
      "vec_id", "embedding", "vec_id", m = 2, k = 40, nprobe = 2,
      dim = 64, frame = frame), queries, emb, "vec_id", "embedding",
      "vec_id", k = 5)
  }

  /** Asymmetric shingle containment over the LSH candidate pairs
    * (Broder 1997's companion statistic to resemblance): per candidate
    * pair, `|A∩B|/|A|` and `|A∩B|/|B|` beside the symmetric Jaccard —
    * the quote-inclusion detector: a short doc embedded wholesale in a
    * long one scores near-zero Jaccard but containment ≈ 1 from the
    * short side. Candidate generation is the shared band-bucket
    * equi-join; set arithmetic runs on distinct shingle arrays.
    */
  def q251_containment(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(s, dir)
    val signed = sh.select(col("doc_id"),
      TextOps.minhashSig(col("sh"), 32).as("sig"))
    val pairs = Dedup.candidatePairs(
      Dedup.lshBuckets(signed, "doc_id", "sig", bands = 8, rowsPerBand = 4),
      "doc_id")
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        round(Dedup.containment(col("sh_a"), col("sh_b")), 6)
          .as("cont_a_in_b"),
        round(Dedup.containment(col("sh_b"), col("sh_a")), 6)
          .as("cont_b_in_a"),
        round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
  }

  /** STL-lite seasonal-trend decomposition of the daily event-type
    * series: 7-day centered moving-average trend (RANGE window on the
    * day number — gaps and edges without the full span report NULL),
    * day-of-week seasonal means of the detrended series, integer
    * residuals. Exact micro units with one fixed division per
    * component, so all three components hash-gate.
    */
  def q252_stl_decompose(s: SparkSession, dir: String): DataFrame =
    TimeSeries.decomposeDaily(dailySeries(s, dir), "event_type",
      halfWindow = 3)

  /** Neyman-allocation stratified sample over the documents table:
    * budget 60 docs across languages, n_h ∝ N_h·σ_h on the n_chars
    * measure — noisy-length languages earn more of the budget than
    * proportional allocation gives them. Exact-integer moments,
    * micro-snapped stratum weights (one integer per stratum, so the
    * total is exact), floor + largest-remainder allocation over the
    * |languages|-row table, seeded md5-rank draws inside strata.
    */
  def q253_neyman_sample(s: SparkSession, dir: String): DataFrame =
    Relational.neymanSample(docs(s, dir), "lang", "doc_id",
      col("n_chars"), n = 60, seed = 42)

  /** Personalized PageRank from a trusted seed set (Haveliwala 2002 /
    * TrustRank's propagation shape) over the synthetic doc graph:
    * teleport mass restarts uniformly over the `doc_id % 17 = 0`
    * seeds, 5 rounds of the src-ordered exact-fold recurrence —
    * the crawl-frontier prioritizer, hash-gated like q133.
    */
  def q254_personalized_pagerank(
      s: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = synthGraph(s, dir)
    val seeds = nodes.filter(col("id") % 17 === 0).select(col("id"))
    LinkGraph.personalizedPageRankExact(nodes, edges, seeds,
      iters = 5, damping = 0.85)
      .select(col("id").as("doc_id"),
        round(col("rank") * lit(1e9)).cast("long").as("rank_nano"))
  }

  /** Fellegi-Sunter record-linkage weights over the q204 registry:
    * candidate pairs from the first-half blocking join carry a truth
    * label (same source custkey), and three comparison fields —
    * exact name, name tail, nation (corrupted on every third dirty
    * record) — get their m/u probabilities and micro-nat ln evidence
    * weights. The statistical layer classic record linkage puts on
    * top of blocking; discriminating fields (name) earn large
    * agreement weights, the weakly-informative nation a small one.
    */
  def q255_fellegi_sunter(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val baseName = md5(col("c_custkey").cast("string")).substr(1, 12)
    val base = cust.select((col("c_custkey") * 2).as("rec_id"),
      baseName.as("name"), col("c_nationkey").cast("long").as("nation"),
      col("c_custkey").as("ck"))
    val p = (col("c_custkey") % 12 + 1).cast("int")
    val dirty = cust.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") * 2 + 1).as("rec_id"),
        concat(baseName.substr(lit(1), p - 1), lit("z"),
          baseName.substr(p + 1, lit(12))).as("name"),
        when(col("c_custkey") % 3 === 0,
          pmod(col("c_nationkey") + 1, lit(25)).cast("long"))
          .otherwise(col("c_nationkey").cast("long")).as("nation"),
        col("c_custkey").as("ck"))
    val records = base.union(dirty)
    val l = records.select(substring(col("name"), 1, 6).as("_k"),
      col("rec_id").as("id_a"), col("name").as("na"),
      col("nation").as("xa"), col("ck").as("cka"))
    val r = records.select(substring(col("name"), 1, 6).as("_k"),
      col("rec_id").as("id_b"), col("name").as("nb"),
      col("nation").as("xb"), col("ck").as("ckb"))
    val pairs = l.join(r, "_k").filter(col("id_a") < col("id_b"))
    Dedup.fellegiSunterWeights(pairs, col("cka") === col("ckb"), Seq(
      "name_exact" -> (col("na") === col("nb")),
      "name_tail" -> (substring(col("na"), 7, 6) ===
        substring(col("nb"), 7, 6)),
      "nation" -> (col("xa") === col("xb"))))
  }

  /** Krippendorff's alpha over the events table (item = user, rating
    * multiset = the user's event types): the many-rater
    * missing-tolerant generalization of q235's two-rater kappa.
    * Per-item disagreement contributions micro-snap once; marginals
    * and totals are exact integers; alpha is one division of two
    * snapped disagreements.
    */
  def q256_krippendorff_alpha(s: SparkSession, dir: String): DataFrame =
    Relational.krippendorffAlpha(t(s, dir, "events"),
      col("user_id"), col("event_type"))

  /** Nelson-Aalen cumulative hazard over user lifetimes — the hazard
    * companion of q241's Kaplan-Meier survival, off the same censored
    * lifetime machinery: per-step d/n micro-snapped, exact integer
    * cumulative sums.
    */
  def q257_nelson_aalen(s: SparkSession, dir: String): DataFrame =
    TimeSeries.nelsonAalen(t(s, dir, "events"), "user_id", col("ts"))

  /** Seasonal-naive backtest of the daily event-type series: forecast
    * = same weekday last week, scored by MAE and sMAPE with per-day
    * micro-snapped terms — the no-skill baseline a forecasting
    * pipeline publishes next to every model's numbers.
    */
  def q258_seasonal_naive(s: SparkSession, dir: String): DataFrame =
    TimeSeries.seasonalNaiveBacktest(dailySeries(s, dir), "event_type",
      period = 7)

  /** Benjamini-Hochberg FDR control over per-cohort chi-square
    * drift tests: 20 user cohorts each test their event-type mix
    * against the pooled distribution (per-cell micro-snapped χ²
    * terms; exact even-df closed-form p = exp(−h)·Σ hⁱ/i!), then BH
    * at α = 0.1 flags the discovery set with exact integer
    * cross-multiplied comparisons — the multiple-testing correction
    * a drift-screening pipeline runs before paging anyone.
    */
  def q259_bh_fdr(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      pmod(col("user_id"), lit(20L)).as("cohort"), col("event_type"))
    Relational.bhFdr(
      Relational.chiSquareGofByGroup(ev, "cohort", col("event_type")),
      "cohort", col("p_micro"), alphaMicro = 100000L)
  }

  /** Blocking-quality report over the q204 registry: the first-half
    * and second-half name keys each report candidate volume,
    * reduction ratio vs all-pairs, and pairs completeness against
    * the custkey truth — the evaluation that picks a blocking design
    * before a full linkage run pays for it.
    */
  def q260_blocking_quality(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val baseName = md5(col("c_custkey").cast("string")).substr(1, 12)
    val base = cust.select((col("c_custkey") * 2).as("rec_id"),
      baseName.as("name"), col("c_custkey").as("ck"))
    val p = (col("c_custkey") % 12 + 1).cast("int")
    val dirty = cust.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") * 2 + 1).as("rec_id"),
        concat(baseName.substr(lit(1), p - 1), lit("z"),
          baseName.substr(p + 1, lit(12))).as("name"),
        col("c_custkey").as("ck"))
    Dedup.blockingQuality(base.union(dirty), "rec_id", "ck", Seq(
      "first_half" -> substring(col("name"), 1, 6),
      "second_half" -> substring(col("name"), 7, 6)))
  }

  /** Jaro-Winkler scoring over the q204 blocking candidates — the
    * name-similarity verification layer: per first-half-block pair,
    * the native kernel's score (rounded 6), which the DuckDB oracle
    * replays via its own jaro_winkler_similarity (same published
    * algorithm and conventions — boost 0.7, prefix cap 4, weight 0.1,
    * both-empty 0).
    */
  def q261_jaro_winkler(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val baseName = md5(col("c_custkey").cast("string")).substr(1, 12)
    val base = cust.select((col("c_custkey") * 2).as("rec_id"),
      baseName.as("name"))
    val p = (col("c_custkey") % 12 + 1).cast("int")
    val dirty = cust.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") * 2 + 1).as("rec_id"),
        concat(baseName.substr(lit(1), p - 1), lit("z"),
          baseName.substr(p + 1, lit(12))).as("name"))
    val records = base.union(dirty)
    val l = records.select(substring(col("name"), 1, 6).as("_k"),
      col("rec_id").as("id_a"), col("name").as("na"))
    val r = records.select(substring(col("name"), 1, 6).as("_k"),
      col("rec_id").as("id_b"), col("name").as("nb"))
    l.join(r, "_k").filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaroWinkler(col("na"), col("nb")), 6).as("jw"))
  }

  /** The full Fellegi-Sunter pipeline end to end: q255's weights
    * learned from the labeled blocking pairs, then every pair scored
    * by exact micro-nat evidence sums and classified against the
    * ±5-nat thresholds — match / clerical-review band / non-match.
    * The decision layer a linkage run ships; integer addition all the
    * way, so the verdict table hash-gates.
    */
  def q262_linkage_decisions(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val baseName = md5(col("c_custkey").cast("string")).substr(1, 12)
    val base = cust.select((col("c_custkey") * 2).as("rec_id"),
      baseName.as("name"), col("c_nationkey").cast("long").as("nation"),
      col("c_custkey").as("ck"))
    val p = (col("c_custkey") % 12 + 1).cast("int")
    val dirty = cust.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") * 2 + 1).as("rec_id"),
        concat(baseName.substr(lit(1), p - 1), lit("z"),
          baseName.substr(p + 1, lit(12))).as("name"),
        when(col("c_custkey") % 3 === 0,
          pmod(col("c_nationkey") + 1, lit(25)).cast("long"))
          .otherwise(col("c_nationkey").cast("long")).as("nation"),
        col("c_custkey").as("ck"))
    val records = base.union(dirty)
    val l = records.select(substring(col("name"), 1, 6).as("_k"),
      col("rec_id").as("id_a"), col("name").as("na"),
      col("nation").as("xa"), col("ck").as("cka"))
    val r = records.select(substring(col("name"), 1, 6).as("_k"),
      col("rec_id").as("id_b"), col("name").as("nb"),
      col("nation").as("xb"), col("ck").as("ckb"))
    val pairs = l.join(r, "_k").filter(col("id_a") < col("id_b"))
      .persist() // feeds the weight LEARNING and the scoring pass
    val fields = Seq(
      "name_exact" -> (col("na") === col("nb")),
      "name_tail" -> (substring(col("na"), 7, 6) ===
        substring(col("nb"), 7, 6)),
      "nation" -> (col("xa") === col("xb")))
    val weights = Dedup.fellegiSunterWeights(pairs,
      col("cka") === col("ckb"), fields)
    Dedup.linkageDecisions(
      pairs.select(col("id_a"), col("id_b"), col("na"), col("nb"),
        col("xa"), col("xb")),
      weights, fields, upperMicro = 5000000L, lowerMicro = -5000000L)
      .select(col("id_a"), col("id_b"), col("score_micro"),
        col("decision"))
  }

  /** Hashing-trick featurization of the documents table: 16-dim
    * signed token-count vectors from md5-derived hashes — the
    * vocabulary-free text representation (no vocab table to build or
    * broadcast); exact integer folds, so the vectors hash-gate.
    */
  def q263_hash_features(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      // the gate compares the vector as its canonical CSV rendering
      // (the hash checker is cell-scalar); integer counts render
      // identically in any engine
      concat_ws(",", TextOps.hashFeatures(
        TextOps.tokensSimple(col("text")), 16)).as("features"))

  /** Split-conformal calibration of a per-source length predictor:
    * the even-doc calibration half fits per-source mean n_chars, the
    * conformal quantile of calibration residuals at α = 0.1 gives the
    * distribution-free interval, and the odd-doc test half reports
    * observed coverage — exact integer k, micro residuals, bounded
    * distinct-value quantile search.
    */
  def q264_conformal(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      col("n_chars").cast("long").as("v"),
      (col("doc_id") % 2 === 0).as("_cal"))
    val pred = d.filter(col("_cal"))
      .groupBy(col("source"))
      .agg(round(sum(col("v")).cast("double") * lit(1000000.0) /
        count(lit(1)).cast("double")).cast("long").as("_p"))
    val resid = d.join(pred, Seq("source"))
      .select(abs(col("v") * lit(1000000L) - col("_p")).as("r_micro"),
        col("_cal"))
    Relational.conformalInterval(resid, col("r_micro"), col("_cal"),
      alphaMicro = 100000L)
  }

  /** The persisted PQ index's DELETION lifecycle under the hash gate
    * — the missing half of the append-only index family, the path the
    * removal-audit pipeline's verdicts take: [[SimSearch.writePqIndex]]
    * persists q121's index to a temp dir, every `vec_id % 9 = 0` is
    * tombstoned ([[SimSearch.deleteFromPqIndex]] — one write-once
    * ids batch + one marker PUT, the object-store-safe
    * MarkerStateStore discipline), and serving through
    * [[SimSearch.readPqIndex]] anti-joins the broadcast tombstones so
    * deleted ids can never surface. The query then runs
    * [[SimSearch.compactPqIndex]] (tombstones fold into a fresh
    * write-once codes generation, committed by one marker PUT) and
    * `require`s the compacted serving equals the tombstoned serving
    * row-for-row (bounded: 20 queries × top-5) before returning it.
    * Oracle = q121's SQL with the deleted ids filtered from the code
    * table only — codebooks/centroids stay fit on the full corpus,
    * exactly as a delete that never refits models must behave. EAGER
    * like q26 (index writes are jobs); the temp tree is deleted
    * before returning.
    */
  def q265_pq_index_delete(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_pqdel")
    try {
      val p = base.resolve("idx").toString
      val emb = t(s, dir, "embeddings").withColumn("cell", col("label"))
        .persist()
      SimSearch.writePqIndex(emb, p, "vec_id", "embedding", "cell",
        m = 2, k = 4, iters = 2, dim = 64, bucketWidth = 128L)
      SimSearch.deleteFromPqIndex(
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id")), p)
      val queries = emb.filter(col("vec_id") < 20)
      def serve(): DataFrame = {
        val idx = SimSearch.readPqIndex(s, p)
        SimSearch.rerankExact(SimSearch.ivfPqTopK(idx.codes,
          idx.codebooks, idx.centroids, queries, "vec_id", "embedding",
          "vec_id", m = 2, k = 40, nprobe = 2, dim = 64,
          frame = idx.frame), queries, emb, "vec_id", "embedding",
          "vec_id", k = 5)
      }
      val tombstoned = serve().localCheckpoint()
      SimSearch.compactPqIndex(s, p)
      val compacted = serve().localCheckpoint()
      // bounded compare (≤ 100 rows/side): the compacted generation
      // must serve row-identically to the tombstone anti-join
      require(sameRows(tombstoned, compacted),
        "compacted index serving diverged from tombstoned serving")
      emb.unpersist()
      compacted
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** UNSUPERVISED Fellegi-Sunter: Winkler-EM weight estimation over
    * an UNLABELED dirty registry — the estimator a real linkage
    * deployment runs (labels rarely exist). The blocking is
    * deliberately coarse (first 3 md5 chars, 4096 blocks) so the
    * candidate pairs are a genuine mixture of true duplicates
    * (single-char corruptions — name slices mostly agree, nation
    * agrees 2/3) and random co-blocked pairs (slices agree at hex
    * chance ≈ 2·10⁻⁴, nation at 1/25). The pairs reduce once to the
    * ≤ 2^3-row comparison-pattern count table; 5 EM iterations run
    * in-plan over that bounded frame with micro-snapped
    * responsibilities (exact integer M-step sums), so the whole
    * estimation hash-gates against a DuckDB oracle that unrolls the
    * identical iterations as CTEs. EM recovers strongly positive
    * agreement weights for the name slices and a weaker one for
    * nation — from structure alone, no `isMatch` anywhere.
    */
  def q266_fs_em(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val baseName = md5(col("c_custkey").cast("string")).substr(1, 12)
    val base = cust.select((col("c_custkey") * 2).as("rec_id"),
      baseName.as("name"), col("c_nationkey").cast("long").as("nation"))
    val p = (col("c_custkey") % 12 + 1).cast("int")
    val dirty = cust.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") * 2 + 1).as("rec_id"),
        concat(baseName.substr(lit(1), p - 1), lit("z"),
          baseName.substr(p + 1, lit(12))).as("name"),
        when(col("c_custkey") % 3 === 0,
          pmod(col("c_nationkey") + 1, lit(25)).cast("long"))
          .otherwise(col("c_nationkey").cast("long")).as("nation"))
    val records = base.union(dirty)
    val l = records.select(substring(col("name"), 1, 3).as("_k"),
      col("rec_id").as("id_a"), col("name").as("na"),
      col("nation").as("xa"))
    val r = records.select(substring(col("name"), 1, 3).as("_k"),
      col("rec_id").as("id_b"), col("name").as("nb"),
      col("nation").as("xb"))
    val pairs = l.join(r, "_k").filter(col("id_a") < col("id_b"))
    Dedup.fellegiSunterEM(pairs, Seq(
      "name_mid" -> (substring(col("na"), 4, 3) ===
        substring(col("nb"), 4, 3)),
      "name_tail" -> (substring(col("na"), 7, 3) ===
        substring(col("nb"), 7, 3)),
      "nation" -> (col("xa") === col("xb"))))
  }

  /** Mann-Whitney U over event values, 'view' vs the rest — the
    * nonparametric sibling of q237's Welch test: doubled tie-averaged
    * ranks off the distinct-cent-value table, exact integer U and tie
    * sums, micro-snapped z (tie-corrected) and rank-biserial effect
    * size.
    */
  def q267_mann_whitney(s: SparkSession, dir: String): DataFrame =
    Relational.mannWhitneyU(
      t(s, dir, "events").filter(col("value").isNotNull),
      col("event_type") === "view",
      round(col("value") * 100).cast("long"))

  /** Adamic-Adar link prediction over the q162 synthetic citation
    * ring (k ∈ 1..3 forward edges): top-20 non-adjacent pairs by
    * Σ 1/ln(deg) over common neighbors — shared rare neighbors
    * outweigh shared hubs. Wedge-join candidates (never all-pairs),
    * per-neighbor terms micro-snapped before the exact integer sum.
    */
  def q268_adamic_adar(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val edges = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
      .select(col("src"), explode(sequence(lit(1L), lit(3L))).as("k"),
        col("n_nodes"))
      .select(col("src"),
        ((col("src") + col("k")) % col("n_nodes")).as("dst"))
    LinkGraph.adamicAdar(edges, topK = 20)
  }

  /** Exact Gini index of per-user event-count concentration — the
    * skew number a corpus report quotes: rank-weighted sum off the
    * DISTINCT-COUNT cumulative table (ties share consecutive ranks,
    * doubled to stay integer), decimal moments, one micro-snapped
    * division.
    */
  def q269_gini(s: SparkSession, dir: String): DataFrame =
    Relational.giniIndex(
      t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("_c")),
      col("_c"))

  /** Jensen-Shannon divergence between even- and odd-user event-type
    * mixes — the symmetric bounded drift number next to q84's KL and
    * q238's PSI: per-category terms micro-snap then sum exactly;
    * one-sided categories contribute finitely (KL would blow up).
    */
  def q270_js_divergence(s: SparkSession, dir: String): DataFrame =
    Relational.jsDivergenceTerms(t(s, dir, "events"),
      col("event_type"), pmod(col("user_id"), lit(2L)) === 0)

  /** Cramér's V for event-type × user-cohort association — the [0,1]
    * effect size on q228's chi-square machinery, comparable across
    * table sizes; exact margins/N, snapped micro terms, one sqrt.
    */
  def q271_cramers_v(s: SparkSession, dir: String): DataFrame =
    Relational.cramersV(
      t(s, dir, "events").select(col("event_type"),
        pmod(col("user_id"), lit(5L)).as("cohort")),
      "event_type", "cohort")

  /** Incremental join-view maintenance (q242's merge discipline for
    * JOINS): orders ⋈ lineitem splits into a persisted base view plus
    * append deltas on BOTH sides, [[Incremental.joinDelta]] computes
    * `ΔA ⋈ B_new ∪ A_old ⋈ ΔB`, and base ∪ delta must equal the full
    * re-join row for row — the oracle IS the full recompute, so an
    * identical result proves the delta rule loses nothing and
    * duplicates nothing (multiset semantics throughout).
    */
  def q273_incremental_join(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").select(col("o_orderkey").as("okey"),
      col("o_custkey"), col("o_totalprice"))
    val b = t(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
      col("l_linenumber"), col("l_quantity"))
    val (aOld, dA) = (a.filter(col("okey") % 5 =!= 0),
      a.filter(col("okey") % 5 === 0))
    val (bOld, dB) = (b.filter(col("l_linenumber") % 2 === 1),
      b.filter(col("l_linenumber") % 2 === 0))
    val vOld = aOld.join(bOld, Seq("okey"))
    vOld.unionByName(
      Incremental.joinDelta(aOld, dA, bOld, dB, Seq("okey")))
  }

  /** Kendall's τ-b between per-user view and click activity — the
    * concordance companion of q229's Spearman with proper tie
    * handling: rows reduce to the distinct (n_views, n_clicks) cell
    * grid, C/D are cross-cell products over the bounded grid's
    * self-join, tie pairs discount both margins, τ is one
    * micro-snapped double chain.
    */
  def q274_kendall_tau(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events").groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("_nv"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("_nc"))
    Relational.kendallTauB(per, col("_nv"), col("_nc"))
  }

  /** Cohen's d (+ Hedges' g) for event values, 'view' vs the rest —
    * the standardized effect size beside q245's Welch t: one moment
    * pass to exact integers, pooled SD, micro-snapped d and g.
    */
  def q275_cohens_d(s: SparkSession, dir: String): DataFrame =
    Relational.cohensD(
      t(s, dir, "events").filter(col("value").isNotNull),
      col("event_type") === "view",
      round(col("value") * 100).cast("long"))

  /** Poisson-bootstrap CI for the mean event value (Chamandy et al.
    * 2012 — the distributed bootstrap): every row derives its B = 32
    * replicate multiplicities from the exact Poisson(1) CDF ladder at
    * a discrete md5 uniform, replicate means fold in one pass, the
    * interval is order statistics of the 32 bounded means. No RNG
    * state, no resampled dataset — and the whole CI hash-gates.
    */
  def q276_bootstrap_ci(s: SparkSession, dir: String): DataFrame =
    // spread: the B=32 md5 ladder per row runs in the pre-aggregation
    // stage, which keeps the scan partitioning — on the single-split
    // events file the whole bootstrap ran on ONE task (measured 5.3 s
    // of 5.6; the narrow (id, value) shuffle is ~2 orders cheaper)
    Relational.poissonBootstrapCI(
      spread(t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("value")), s),
      col("event_id"), round(col("value") * 100).cast("long"),
      b = 32, alphaMicro = 100000L)

  /** Trimmed + winsorized mean of event values (10% per tail) — the
    * robust-location report beside q276's bootstrap CI: exact
    * interval clips off the distinct-cent cumulative table, exact
    * decimal k, winsorized tails add k·(v₍k+1₎ + v₍n−k₎) exactly.
    */
  def q277_trimmed_means(s: SparkSession, dir: String): DataFrame =
    Relational.trimmedMeans(
      t(s, dir, "events").filter(col("value").isNotNull),
      round(col("value") * 100).cast("long"), trimMicro = 100000L)

  /** Log-rank test between even- and odd-user survival — the A/B
    * verdict on top of q241/q257's censored-lifetime machinery: per
    * distinct event time, the A-group's observed churn vs its
    * at-risk-proportional expectation, hypergeometric variance terms
    * micro-snapped and summed exactly, one z/χ² chain at the end.
    */
  def q278_log_rank(s: SparkSession, dir: String): DataFrame =
    TimeSeries.logRankTest(t(s, dir, "events"), "user_id", col("ts"),
      pmod(col("user_id"), lit(2L)) === 0)

  /** One-way ANOVA F + η² across event types — the k-group
    * generalization of q245's Welch test: does mean purchase value
    * differ across event types at all? One per-group moment pass
    * (decimal squares), milli-snapped s²/n terms summed exactly, one
    * F/η² double chain.
    */
  def q279_anova_f(s: SparkSession, dir: String): DataFrame =
    Relational.anovaF(
      t(s, dir, "events").filter(col("value").isNotNull),
      col("event_type"), round(col("value") * 100).cast("long"))

  /** Levene homogeneity-of-variance W across event types — the
    * pre-check for q279's equal-variance assumption: ANOVA's F on the
    * absolute deviations from each group's own (micro-snapped) mean.
    */
  def q280_levene(s: SparkSession, dir: String): DataFrame =
    Relational.leveneW(
      t(s, dir, "events").filter(col("value").isNotNull),
      col("event_type"), round(col("value") * 100).cast("long"))

  /** Kruskal-Wallis H across event types — the k-group rank test
    * (nonparametric q279): doubled average ranks off the
    * distinct-value cumulative table, exact decimal rank sums,
    * unit-snapped R²/(4n) terms, tie-corrected H' beside plain H.
    */
  def q281_kruskal_wallis(s: SparkSession, dir: String): DataFrame =
    Relational.kruskalWallisH(
      t(s, dir, "events").filter(col("value").isNotNull),
      col("event_type"), round(col("value") * 100).cast("long"))

  /** Vocabulary richness of the documents corpus — Chao1 unseen-type
    * lower bound + Good-Turing sample coverage off the
    * frequency-of-frequencies reduction of ONE token-count pass: the
    * "does more data buy more diversity" preflight.
    */
  def q282_vocab_richness(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabRichness(docs(s, dir), "text")

  /** Degree assortativity over a mixed synthetic graph (ring + sparse
    * hub fan-out from every 5th node, so degrees actually vary) —
    * Newman's "do hubs link to hubs" Pearson r off exact decimal
    * moment sums over both edge orientations.
    */
  def q283_assortativity(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val base = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
    val ring = base.select(col("src"),
      ((col("src") + 1) % col("n_nodes")).as("dst"))
    val hubs = base.filter(col("src") % 5 === 0)
      .select(col("src"), explode(sequence(lit(2L), lit(4L))).as("k"),
        col("n_nodes"))
      .select(col("src"),
        ((col("src") + col("k")) % col("n_nodes")).as("dst"))
    LinkGraph.degreeAssortativity(ring.union(hubs))
  }

  /** Modularity of a contiguous-block community assignment over the
    * ring+shift graph: per-community within-edge share minus the
    * degree-null expectation, micro-snapped — the quality score every
    * community detection (q163's LPA) should be judged by.
    */
  def q284_modularity(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val n1 = d.agg(count(lit(1)).as("n_nodes"))
    val base = d.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n1))
    val edges = base.select(col("src"),
      explode(sequence(lit(1L), lit(2L))).as("k"), col("n_nodes"))
      .select(col("src"),
        ((col("src") + col("k")) % col("n_nodes")).as("dst"))
    val assign = d.select(col("doc_id").as("id"),
      pmod(floor(col("doc_id") / 16), lit(4)).cast("long")
        .as("community"))
    LinkGraph.modularity(edges, assign)
  }

  /** Mutual information + NMI between event type and a user cohort —
    * "how much does the event mix leak the cohort": micro-nat-snapped
    * per-cell ln terms weighted by exact counts, entropies off the
    * margins, one NMI chain.
    */
  def q285_mutual_information(s: SparkSession, dir: String): DataFrame =
    Relational.mutualInformation(t(s, dir, "events"),
      col("event_type"), pmod(col("user_id"), lit(4L)))

  /** McNemar's paired test between two document classifiers (char
    * length vs token count, truth = lang=='en') — discordant-pair
    * counts + the χ² and continuity-corrected chains.
    */
  def q286_mcnemar(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Relational.mcNemar(d,
      col("n_chars") > 300,
      size(split(col("text"), " ")) > 50,
      col("lang") === lit("en"))
  }

  /** Restricted mean survival time at τ = 20 days — the area under
    * q241's KM curve: average days retained in the first 20, exact
    * integer step areas off the already-snapped micro survival.
    */
  def q287_rmst(s: SparkSession, dir: String): DataFrame =
    TimeSeries.rmst(t(s, dir, "events"), "user_id", col("ts"), 20L)

  /** Weighted exact-50 sample of purchase events by cent value
    * (Efraimidis-Spirakis A-ES with the md5-uniform key) — heavy
    * events proportionally more likely, fully deterministic,
    * TakeOrdered selection.
    */
  def q288_weighted_sample(s: SparkSession, dir: String): DataFrame =
    Relational.weightedSample(
      t(s, dir, "events").filter(col("value").isNotNull),
      "event_id", round(col("value") * 100).cast("long"), 50, 7L)

  /** Persisted BM25 inverted-index lifecycle under the oracle: write
    * the index for HALF the corpus, APPEND the other half (postings
    * land in the frozen bucket layout, stats add a delta row), then
    * serve q78's query set from the index with bucket-pruned reads —
    * the result must be row-identical to in-memory BM25 over the full
    * corpus, which q78's DuckDB twin computes. EAGER (index writes
    * are jobs); temp tree deleted before returning.
    */
  def q290_bm25_index(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_bm25idx")
    try {
      import s.implicits._
      val p = base.resolve("idx").toString
      val d = docs(s, dir)
      graft.text.Bm25.writeBm25Index(
        d.filter(col("doc_id") % 2 === 0), "text", "doc_id", p,
        buckets = 16)
      graft.text.Bm25.appendToBm25Index(
        d.filter(col("doc_id") % 2 =!= 0), "text", "doc_id", p)
      val queries = Seq(
        (1L, "spark"), (1L, "join"), (1L, "window"),
        (2L, "slow"), (2L, "query"), (2L, "filter"),
        (3L, "customer"), (3L, "order"), (3L, "the"))
        .toDF("query_id", "term")
      graft.text.Bm25.topKFromIndex(s, p, queries, "query_id",
        "doc_id", k = 10).localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** BM25 index DELETION lifecycle under the oracle (q265's PQ
    * discipline for sparse retrieval): index the full corpus, delete
    * every 7th doc (ids-only tombstones + one NEGATIVE stats delta,
    * nothing rewritten), serve — tombstoned docs must never surface
    * and idf/avgdl must reflect the survivors, which the oracle pins
    * by computing in-memory BM25 over the surviving corpus only. Then
    * compact and `require` the served rows are identical. EAGER;
    * temp tree deleted before returning.
    */
  def q291_bm25_index_delete(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_bm25del")
    try {
      import s.implicits._
      val p = base.resolve("idx").toString
      val d = docs(s, dir)
      graft.text.Bm25.writeBm25Index(d, "text", "doc_id", p,
        buckets = 16)
      graft.text.Bm25.deleteFromBm25Index(
        d.filter(col("doc_id") % 7 === 0).select(col("doc_id")), p,
        "doc_id")
      val queries = Seq(
        (1L, "spark"), (1L, "join"), (1L, "window"),
        (2L, "slow"), (2L, "query"), (2L, "filter"),
        (3L, "customer"), (3L, "order"), (3L, "the"))
        .toDF("query_id", "term")
      def serve(): DataFrame = graft.text.Bm25.topKFromIndex(
        s, p, queries, "query_id", "doc_id", k = 10)
      val tombstoned = serve().localCheckpoint()
      graft.text.Bm25.compactBm25Index(s, p, "doc_id")
      val compacted = serve().localCheckpoint()
      require(sameRows(tombstoned, compacted),
        "compacted BM25 serving diverged from tombstoned serving")
      compacted
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Quantile normalization of event cent values across event types —
    * each type's distribution maps onto the pooled one by exact
    * integer midrank containment: the step that makes ONE global
    * threshold meaningful across drifting per-source scorers.
    */
  def q292_quantile_normalize(s: SparkSession, dir: String): DataFrame =
    Relational.quantileNormalize(
      t(s, dir, "events").filter(col("value").isNotNull),
      col("event_type"), round(col("value") * 100).cast("long"))

  /** Signed near-dup index lifecycle under the oracle: write HALF the
    * corpus's signatures, APPEND the other half (parameters validated
    * against the persisted meta), tombstone every 11th doc, and emit
    * near-dup pairs from the index — which must equal the q16 LSH
    * machinery over the SURVIVING corpus. Then compact and `require`
    * pair-identity. EAGER; temp tree deleted before returning.
    */
  def q293_signed_index_lifecycle(s: SparkSession, dir: String)
      : DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_signidx")
    try {
      val p = base.resolve("idx").toString
      val d = docs(s, dir)
      Dedup.writeSignedIndex(d.filter(col("doc_id") % 2 === 0), p,
        "text", "doc_id", shingleK = 3, bands = 8, rowsPerBand = 4,
        tokenizer = TextOps.tokensSimple)
      Dedup.appendToSignedIndex(d.filter(col("doc_id") % 2 =!= 0), p,
        "text", "doc_id", shingleK = 3, bands = 8, rowsPerBand = 4,
        tokenizer = TextOps.tokensSimple)
      Dedup.deleteFromSignedIndex(
        d.filter(col("doc_id") % 11 === 0).select(col("doc_id")), p,
        "doc_id")
      def pairs(): DataFrame = Dedup.nearDupPairsFromIndex(
        Dedup.readSignedIndex(s, p), "doc_id", threshold = 0.2)
      val tombstoned = pairs().localCheckpoint()
      Dedup.compactSignedIndex(s, p)
      val compacted = pairs().localCheckpoint()
      require(sameRows(tombstoned, compacted),
        "compacted signed-index pairs diverged from tombstoned pairs")
      compacted
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Median + MAD + robust σ̂ of event cent values — the outlier
    * fence no whale can move: both medians off distinct-value
    * cumulative tables, exact even-n middles, one 1.4826 chain.
    */
  def q294_mad(s: SparkSession, dir: String): DataFrame =
    Relational.medianAbsDeviation(
      t(s, dir, "events").filter(col("value").isNotNull),
      round(col("value") * 100).cast("long"))

  /** Two-proportion z-test: purchase conversion, even- vs odd-id
    * users — pooled z, unpooled Wald 95% CI on the difference.
    */
  def q295_two_proportion(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events").groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("converted"))
    Relational.twoProportionZ(perUser,
      pmod(col("user_id"), lit(2L)) === 0, col("converted"))
  }

  /** DISTRIBUTED logistic-regression training under the hash gate:
    * two full-batch GD iterations over 8-dim hashing-trick features
    * (one corpus pass per iteration, (dim+1)-row broadcast weights,
    * micro-snapped residuals, exact integer gradients) — the oracle
    * unrolls the identical iterations as CTEs, so the learned weights
    * hash-gate bit-exactly.
    */
  def q296_logistic_fit(s: SparkSession, dir: String): DataFrame =
    graft.text.Classifier.logisticFit(docs(s, dir), "text", "doc_id",
      col("text").contains("data"), dim = 8, iters = 2)

  /** q296's model SERVED as a quality filter: train, score every
    * document, report per-source volume / kept-at-0.5 / mean score —
    * the keep-rate table a filter rollout reviews. The oracle nests
    * the full training SQL as a CTE and scores through the identical
    * sigmoid chain.
    */
  def q297_logistic_filter(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Classifier
    // ONE feature pass shared by the fit's iterations AND the scoring
    // pass (guide §2.4) — the corpus tokenizes once, not twice;
    // expression chains unchanged so the report is bit-identical
    val d = docs(s, dir).persist()
    val docsY = d.select(col("doc_id").as("_id"),
      when(col("text").contains("data"), 1L).otherwise(0L).as("_y"))
      .persist()
    val feats = Classifier.hashedFeats(d, "text", "doc_id", 8L,
      TextOps.tokensSimple).persist()
    val w = Classifier.logisticFitCore(docsY, feats, dim = 8, iters = 2)
    val out = Classifier
      .logisticScoreCore(docsY.select(col("_id")), feats, w)
      .withColumnRenamed("_id", "doc_id")
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score_micro") >= 500000L, 1L).otherwise(0L))
          .as("n_kept"),
        sum(col("score_micro")).as("score_sum_micro"))
      .localCheckpoint()
    docsY.unpersist(); feats.unpersist(); d.unpersist()
    out
  }

  /** Cochran's Q over three document classifiers scored on the SAME
    * corpus (char-length, token-count, keyword) — the k-way "do the
    * filters differ at all" gate before pairwise McNemar drill-downs.
    * All counts exact integers; one closing ratio.
    */
  def q298_cochran_q(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Relational.cochranQ(d, Seq(
      col("n_chars") > 300,
      size(split(col("text"), " ")) > 50,
      col("text").contains("the")))
  }

  /** Friedman test across three per-document score scales (char,
    * token, id residues on a shared 0-99 scale) — the blocked-rank
    * "do the scorers systematically order docs differently" gate;
    * doubled tie-averaged ranks via scan-stage pairwise compares,
    * exact integer moments, one closing ratio.
    */
  def q299_friedman(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Relational.friedmanChi2(d, Seq(
      pmod(col("n_chars"), lit(100L)),
      pmod(size(split(col("text"), " ")) * 3, lit(100)).cast("long"),
      pmod(col("doc_id"), lit(100L))))
  }

  /** FLAGSHIP q300 — hybrid retrieval served ENTIRELY from persisted
    * indexes: the sparse leg from the bucket-partitioned BM25 index
    * (q290's artifact, written in two generations to exercise the
    * append path), the dense leg from the persisted SimHash-bucketed
    * ANN index (partition-pruned probe), fused with reciprocal-rank
    * fusion. The oracle replays BOTH legs' exact arithmetic (q78's
    * BM25 chain, q18's md5-hyperplane bucketing + IEEE cosine) and
    * the RRF chain — the production serving topology (no raw corpus
    * anywhere at query time) under the hash gate. EAGER (index
    * writes); temp tree deleted before returning.
    */
  def q300_persisted_hybrid(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_hybrid")
    try {
      import s.implicits._
      val pBm = base.resolve("bm25").toString
      val pAnn = base.resolve("ann").toString
      val d = docs(s, dir)
      val emb = t(s, dir, "embeddings")
      // the BM25 build+append chain and the ANN build write disjoint
      // trees: overlap them (guide §2.6)
      graft.operators.Par.run(Seq(
        () => {
          graft.text.Bm25.writeBm25Index(
            d.filter(col("doc_id") % 2 === 0), "text", "doc_id", pBm,
            buckets = 16)
          graft.text.Bm25.appendToBm25Index(
            d.filter(col("doc_id") % 2 =!= 0), "text", "doc_id", pBm)
        },
        () => SimSearch.writeAnnIndex(emb, pAnn, "vec_id", "embedding",
          planes = 6, dim = 64)))
      val queries = Seq(
        (1L, "spark"), (1L, "join"), (1L, "window"),
        (2L, "slow"), (2L, "query"), (2L, "filter"),
        (3L, "customer"), (3L, "order"), (3L, "the"))
        .toDF("query_id", "term")
      val bm = graft.text.Bm25.topKFromIndex(s, pBm, queries,
        "query_id", "doc_id", k = 10)
        .select(col("query_id").as("qid"), col("doc_id").as("id"),
          col("rank"))
      val cos = SimSearch.annTopKFromIndex(
        SimSearch.readAnnIndex(s, pAnn),
        emb.filter(col("vec_id").isin(1L, 2L, 3L)),
        "vec_id", "embedding", k = 10, planes = 6, dim = 64)
        .select(col("qid"), col("neighbor").as("id"),
          (col("rank") + 1).as("rank")) // 0-based -> 1-based
      SimSearch.rrfFuse(Seq(bm, cos), k = 10)
        .select(col("qid").as("query_id"), col("id").as("doc_id"),
          col("rrf"), col("rank")).localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Benjamini-Yekutieli FDR on q259's hypothesis table — the
    * arbitrary-dependence flavor: the harmonic factor folds off the
    * ranked table itself, the step-up compare is fully
    * cross-multiplied; discoveries ⊆ BH's at the same α.
    */
  def q301_by_fdr(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      pmod(col("user_id"), lit(20L)).as("cohort"), col("event_type"))
    Relational.byFdr(
      Relational.chiSquareGofByGroup(ev, "cohort", col("event_type")),
      "cohort", col("p_micro"), alphaMicro = 100000L)
  }

  /** Hazard ratio + CI from q278's log-rank moments — the one-step
    * Pike estimator: "A churns X× faster", with the Woolf-style CI,
    * one fixed chain on the exact O/E/V micros.
    */
  def q302_hazard_ratio(s: SparkSession, dir: String): DataFrame =
    TimeSeries.hazardRatio(t(s, dir, "events"), "user_id", col("ts"),
      pmod(col("user_id"), lit(2L)) === 0)

  /** 2×2 odds ratio with the Woolf CI: long documents (exposure) vs
    * English (outcome) — exact integer cells, two fixed chains.
    */
  def q303_odds_ratio(s: SparkSession, dir: String): DataFrame =
    Relational.oddsRatio(docs(s, dir),
      col("n_chars") > 300, col("lang") === lit("en"))

  /** Two-sample Poisson rate-ratio: events per active user-day, even
    * vs odd users — exact per-user counts/exposures, log-linear z.
    */
  def q304_poisson_rate(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events").groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        countDistinct(floor(unix_timestamp(col("ts")) / lit(86400L)))
          .as("n_days"))
    Relational.poissonRateTest(perUser,
      pmod(col("user_id"), lit(2L)) === 0, col("n_ev"), col("n_days"))
  }

  /** Morton z-order values over bucketed event coordinates — the
    * clustering key behind two-dimensional file skipping; the 50
    * lowest z cells (TakeOrdered) under the exact bit-interleave
    * oracle.
    */
  def q305_zorder(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_id"),
      pmod(col("user_id"), lit(1024L)).as("x"),
      pmod(col("event_id"), lit(1024L)).as("y"))
    ev.select(col("event_id"), col("x"), col("y"),
      Relational.zOrderValue(col("x"), col("y"), bits = 10).as("z"))
      .orderBy(col("z"), col("event_id")).limit(50)
  }

  /** k-anonymity / l-diversity release audit over events: quasi-IDs
    * = (event type, value decile, weekday), sensitive = user cohort —
    * the re-identification screen before sharing; one equivalence-
    * class pass, one summary row.
    */
  def q306_k_anonymity(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("value").isNotNull)
    Relational.kAnonymityAudit(ev,
      Seq(col("event_type"),
        pmod(round(col("value") * 100).cast("long"), lit(10L)),
        pmod(floor(unix_timestamp(col("ts")) / lit(86400L)), lit(7L))),
      pmod(col("user_id"), lit(50L)), k = 5L, l = 3L)
  }

  /** Stratified log-rank + pooled one-step hazard ratio — q278/q302's
    * covariate-adjusted sibling: per-time O/E/V moments within each
    * user-cohort stratum (user_id % 5), summed before the z/χ²/HR
    * fold. The oracle replays the q278 SQL with one more GROUP BY /
    * PARTITION BY key.
    */
  def q308_stratified_logrank(s: SparkSession, dir: String): DataFrame =
    TimeSeries.stratifiedLogRank(t(s, dir, "events"), "user_id",
      col("ts"), pmod(col("user_id"), lit(2L)) === 0,
      pmod(col("user_id"), lit(5L)))

  /** Cohen's h + per-arm Wilson intervals over q295's conversion
    * cells — the magnitude/CI readout beside its z verdict. Exact
    * cells, fixed asin/Wilson chains.
    */
  def q320_proportion_effect(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events").groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("converted"))
    Relational.proportionEffect(perUser,
      pmod(col("user_id"), lit(2L)) === 0, col("converted"))
  }

  /** BM25 index TIME TRAVEL under the oracle (the round-12
    * PoolCommit retention contract ported to the index families):
    * index the full corpus (snapshot gen 1), tombstone-delete every
    * 5th doc with `retain = 2` — so the PRE-DELETE snapshot's marker
    * and files stay on disk — then serve q78's query set from BOTH
    * snapshots: `atGen = 1` must replay in-memory BM25 over the FULL
    * corpus (the audit/rollback read: "what did this query serve
    * before the takedown batch?"), the ruling snapshot over the
    * survivors only. The oracle computes both corpora's BM25 and
    * tags the rows, so a snapshot read leaking tombstones in either
    * direction hash-fails. EAGER (index writes are jobs); temp tree
    * deleted before returning.
    */
  def q321_bm25_time_travel(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_bm25tt")
    try {
      import s.implicits._
      val p = base.resolve("idx").toString
      val d = docs(s, dir)
      graft.text.Bm25.writeBm25Index(d, "text", "doc_id", p,
        buckets = 16)
      graft.text.Bm25.deleteFromBm25Index(
        d.filter(col("doc_id") % 5 === 0).select(col("doc_id")), p,
        "doc_id", retain = 2)
      require(graft.text.Bm25.bm25Generations(s, p) == Seq(1L, 2L),
        "retain=2 must keep the pre-delete snapshot readable")
      val queries = Seq(
        (1L, "spark"), (1L, "join"), (1L, "window"),
        (2L, "slow"), (2L, "query"), (2L, "filter"),
        (3L, "customer"), (3L, "order"), (3L, "the"))
        .toDF("query_id", "term")
      def serve(at: Option[Long]): DataFrame =
        graft.text.Bm25.topKFromIndex(s, p, queries, "query_id",
          "doc_id", k = 10, atGen = at)
      serve(Some(1L)).withColumn("snapshot", lit("pre_delete"))
        .unionByName(
          serve(None).withColumn("snapshot", lit("post_delete")))
        .localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Holm step-down over q301's hypothesis table — the family-wise
    * gate beside BH/BY's FDR: cross-multiplied exact compares, the
    * first failure stops everything after it. Discoveries ⊆ BH's at
    * the same α by construction.
    */
  def q319_holm(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      pmod(col("user_id"), lit(20L)).as("cohort"), col("event_type"))
    Relational.holmAdjust(
      Relational.chiSquareGofByGroup(ev, "cohort", col("event_type")),
      "cohort", col("p_micro"), alphaMicro = 100000L)
  }

  /** IPW treatment effect: does mentioning "data" cause documents to
    * be long, after adjusting for everything else the hashed bag of
    * words sees? q296's propensity model + Horvitz–Thompson arm
    * weighting, every per-row term an exact snapped ratio. EAGER
    * (training runs at construction, the q296/q297 shape).
    */
  def q318_ipw(s: SparkSession, dir: String): DataFrame =
    graft.text.Classifier.ipwEffect(docs(s, dir), "text", "doc_id",
      col("text").contains("data"), col("n_chars") > 300,
      dim = 8, iters = 2)

  /** Doubly-robust AIPW treatment effect — q318's IPW augmented with
    * per-arm outcome models (hashed-feature logistic on the treated
    * and control subsets, scored on everyone): consistent if EITHER
    * the propensity or the outcome models are right. Same
    * treatment/outcome as q318 so the two estimators read side by
    * side. EAGER (three trainings at construction).
    */
  def q327_aipw(s: SparkSession, dir: String): DataFrame =
    graft.text.Classifier.aipwEffect(docs(s, dir), "text", "doc_id",
      col("text").contains("data"), col("n_chars") > 300,
      propDim = 8, propIters = 2, outDim = 8, outIters = 2)

  /** The takedown pipeline END TO END under the oracle: build all
    * FOUR persisted index families over deliberately DIFFERENT
    * corpus subsets (so the before-membership flags carry signal),
    * then [[graft.operators.Takedown]] every 13th doc id in ONE call
    * — each family's marker-committed tombstone delete plus the
    * per-id audit certificate. The oracle replays the membership
    * flags from the subset constructions; the in-query `require`
    * pins the certificate itself (every target provably gone from
    * every serving read — a tombstone that failed to commit anywhere
    * fails the gate loudly). EAGER (four index builds + four
    * lifecycle commits); temp tree deleted before returning.
    */
  def q328_takedown(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_takedown")
    try {
      val d = docs(s, dir)
      val emb = t(s, dir, "embeddings")
      val (bm, ann, pq, sg) = (base.resolve("bm").toString,
        base.resolve("ann").toString, base.resolve("pq").toString,
        base.resolve("sg").toString)
      // four independent index trees: build them concurrently
      // (guide §2.6)
      graft.operators.Par.run(Seq(
        () => jobLabel(s, "build bm25")(graft.text.Bm25.writeBm25Index(
          d.filter(col("doc_id") % 2 === 0), "text", "doc_id", bm,
          buckets = 16)),
        () => jobLabel(s, "build ann")(SimSearch.writeAnnIndex(
          emb.filter(col("vec_id") % 2 === 0),
          ann, "vec_id", "embedding", planes = 6, dim = 64)),
        () => jobLabel(s, "build pq")(SimSearch.writePqIndex(
          emb.filter(col("vec_id") % 5 =!= 0)
            .withColumn("cell", col("label")),
          pq, "vec_id", "embedding", "cell", m = 2, k = 4, iters = 2,
          dim = 64, bucketWidth = 128L)),
        () => jobLabel(s, "build signed")(Dedup.writeSignedIndex(
          d.filter(col("doc_id") % 3 === 0),
          sg, "text", "doc_id", shingleK = 3, bands = 8,
          rowsPerBand = 4, tokenizer = TextOps.tokensSimple))))
      val targets = d.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"))
      val audit = graft.operators.Takedown(s, targets, "doc_id",
        bm25Path = Some(bm), annPath = Some(ann), pqPath = Some(pq),
        pqIdCol = Some("vec_id"), signedPath = Some(sg), retain = 2)
        .localCheckpoint()
      require(audit.filter(!col("gone_bm25") || !col("gone_ann") ||
        !col("gone_pq") || !col("gone_signed")).isEmpty,
        "takedown certificate failed: a target still serves somewhere")
      audit
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** CORPUS-SIDE takedown end to end under the oracle — the
    * round-13 gap closed: "deleted" now includes the BYTES, not just
    * the serving paths. A [[graft.operators.DocPool]] (hash-bucketed,
    * marker-committed) holds the corpus (every doc id not divisible
    * by 3), a BM25 index serves the even half, and ONE
    * [[graft.operators.Takedown]] call removes every 11th id from
    * BOTH — the index by marker-committed tombstone, the pool by a
    * partition-pruned bucket rewrite ([[graft.operators.DocPool
    * .removeIds]]: only the ids' hash buckets are rewritten;
    * untouched buckets keep their physical files) — and certifies
    * per id. In-query `require`s pin (a) the certificate (gone from
    * the index AND the pool), (b) the pool survivors row-for-row
    * against the expected set, and (c) the retained pre-takedown
    * snapshot still serving the full corpus (the audit-trail read).
    * The oracle replays the membership flags from the subset
    * constructions. EAGER; temp tree deleted before returning.
    */
  def q331_corpus_takedown(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_ctd")
    try {
      val d = docs(s, dir)
      val bm = base.resolve("bm").toString
      val pool = base.resolve("pool").toString
      // independent trees: overlap the index build and the pool
      // bootstrap (guide §2.6)
      graft.operators.Par.run(Seq(
        () => graft.text.Bm25.writeBm25Index(
          d.filter(col("doc_id") % 2 === 0), "text", "doc_id", bm,
          buckets = 16),
        () => graft.operators.DocPool.write(
          d.filter(col("doc_id") % 3 =!= 0), pool, "doc_id",
          buckets = 8, retain = 2)))
      val targets = d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"))
      val audit = graft.operators.Takedown(s, targets, "doc_id",
        bm25Path = Some(bm), poolPath = Some(pool), retain = 2)
        .localCheckpoint()
      require(audit.filter(!col("gone_bm25") || !col("gone_pool"))
        .isEmpty,
        "takedown certificate failed: a target still present somewhere")
      // the pool SURVIVORS are exactly the expected rows
      val got = graft.operators.DocPool.read(s, pool)
      val want = d.filter(col("doc_id") % 3 =!= 0 &&
        col("doc_id") % 11 =!= 0)
      require(sameRows(got, want),
        "pool survivors diverged from the expected set")
      // ...and the retained pre-takedown snapshot still serves the
      // full corpus (retain = 2 keeps the audit trail readable) —
      // both cardinalities fold in ONE tagged-union job
      val snap = graft.operators.DocPool.read(s, pool, 1L)
        .select(lit(1L).as("_s"), lit(0L).as("_w"))
        .unionByName(d.filter(col("doc_id") % 3 =!= 0)
          .select(lit(0L).as("_s"), lit(1L).as("_w")))
        .agg(sum(col("_s")), sum(col("_w"))).head()
      require(snap.getLong(0) == snap.getLong(1),
        "pre-takedown snapshot must stay readable (retain = 2)")
      audit
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** DocPool per-bucket UPSERT under the oracle — the growth half of
    * the corpus lifecycle (q331 proved the removal half): bootstrap
    * the pool with the EVEN doc ids, then upsert every 3rd doc with a
    * v2 row (`n_chars + 1000000` marks the version) — odd thirds are
    * NEW ids, even thirds REPLACE — rewriting only the batch's hash
    * buckets. In-query `require`s pin (a) the final rows exactly
    * (survivor v1 evens + v2 thirds, via exceptAll both ways) and
    * (b) the retained pre-upsert snapshot still serving the all-v1
    * bootstrap; the oracle replays the final corpus aggregate from
    * the construction. EAGER; temp tree deleted before returning.
    */
  def q333_docpool_upsert(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_dup")
    try {
      val d = docs(s, dir)
      val pool = base.resolve("pool").toString
      val v1 = d.filter(col("doc_id") % 2 === 0)
      graft.operators.DocPool.write(v1, pool, "doc_id", buckets = 8,
        retain = 2)
      val v2 = d.filter(col("doc_id") % 3 === 0)
        .withColumn("n_chars", col("n_chars") + 1000000L)
      graft.operators.DocPool.upsert(v2, pool, "doc_id", retain = 2)
      val got = graft.operators.DocPool.read(s, pool)
      val want = v1.filter(col("doc_id") % 3 =!= 0).unionByName(v2)
      require(sameRows(got, want),
        "upserted pool diverged from the expected row set")
      require(graft.operators.DocPool.read(s, pool, 1L)
        .filter(col("n_chars") >= 1000000L).isEmpty,
        "pre-upsert snapshot must stay readable and all-v1")
      got.agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("n_chars") >= 1000000L, 1L).otherwise(0L))
          .as("n_v2")).localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** The serve-freshness loop CLOSED under the oracle — q329 measured
    * drift for one family; this gate runs [[graft.operators
    * .DriftRepair]] across ALL FOUR persisted index families PLUS
    * the [[graft.operators.DocPool]] corpus of record, each built
    * from deliberately different subsets (BM25 evens, signed thirds,
    * pool non-fifths, ANN evens, PQ non-fifths) against corpora that
    * dropped every 7th id — so every family carries BOTH drift
    * directions — then REMEDIATES (extras tombstone/remove out
    * through one takedown per id domain, missing re-append/upsert
    * through each family's marker-committed write path) and
    * re-audits. The oracle replays the before-numbers
    * from the set algebra of the constructions; the in-query
    * `require` pins the after-numbers at ZERO for every family — the
    * end-to-end freshness certificate. EAGER (four builds, two
    * takedowns, up to four appends, eight audits); temp tree deleted
    * before returning.
    */
  def q332_drift_repair(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_drep")
    try {
      val d = docs(s, dir)
      val emb = t(s, dir, "embeddings")
      val (bm, ann, pq, sg) = (base.resolve("bm").toString,
        base.resolve("ann").toString, base.resolve("pq").toString,
        base.resolve("sg").toString)
      val dp = base.resolve("pool").toString
      // five independent family trees: build them concurrently
      // (guide §2.6)
      graft.operators.Par.run(Seq(
        () => jobLabel(s, "build bm25")(graft.text.Bm25.writeBm25Index(
          d.filter(col("doc_id") % 2 === 0), "text", "doc_id", bm,
          buckets = 16)),
        () => jobLabel(s, "build signed")(Dedup.writeSignedIndex(
          d.filter(col("doc_id") % 3 === 0),
          sg, "text", "doc_id", shingleK = 3, bands = 8,
          rowsPerBand = 4, tokenizer = TextOps.tokensSimple)),
        () => jobLabel(s, "build pool")(graft.operators.DocPool.write(
          d.filter(col("doc_id") % 5 =!= 0), dp, "doc_id",
          buckets = 8)),
        () => jobLabel(s, "build ann")(SimSearch.writeAnnIndex(
          emb.filter(col("vec_id") % 2 === 0),
          ann, "vec_id", "embedding", planes = 6, dim = 64)),
        () => jobLabel(s, "build pq")(SimSearch.writePqIndex(
          emb.filter(col("vec_id") % 5 =!= 0)
            .withColumn("cell", col("label")),
          pq, "vec_id", "embedding", "cell", m = 2, k = 4, iters = 2,
          dim = 64, bucketWidth = 128L))))
      val rep = graft.operators.DriftRepair(s,
        docCorpus = Some(d.filter(col("doc_id") % 7 =!= 0)),
        bm25Path = Some(bm), signedPath = Some(sg),
        docPoolPath = Some(dp),
        tokenizer = TextOps.tokensSimple,
        vecCorpus = Some(emb.filter(col("vec_id") % 7 =!= 0)
          .withColumn("cell", col("label"))),
        annPath = Some(ann), pqPath = Some(pq), pqM = 2, pqDim = 64,
        pqCellCol = Some("cell"))
        .localCheckpoint()
      require(rep.filter(col("n_missing_after") =!= 0L ||
        col("n_extra_after") =!= 0L).isEmpty,
        "drift repair left residual drift in some family")
      rep
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Index-freshness drift under the oracle: a BM25 index built over
    * the even half of the corpus, every 10th doc then tombstoned out,
    * audited against a corpus that itself dropped every 7th doc —
    * so the report must count BOTH directions of drift: corpus docs
    * the index never absorbed or deleted (missing) and index docs the
    * corpus no longer has (extra — the un-propagated-takedown
    * signal). One tag-union aggregation; the oracle replays the set
    * algebra from the constructions. EAGER (index build + delete).
    */
  def q329_index_drift(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_drift")
    try {
      val d = docs(s, dir)
      val p = base.resolve("idx").toString
      graft.text.Bm25.writeBm25Index(
        d.filter(col("doc_id") % 2 === 0), "text", "doc_id", p,
        buckets = 16)
      graft.text.Bm25.deleteFromBm25Index(
        d.filter(col("doc_id") % 10 === 0).select(col("doc_id")), p,
        "doc_id")
      val corpusNow = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"))
      Diagnose.indexDriftReport(corpusNow,
        graft.text.Bm25.bm25IndexIds(s, p, "doc_id"), "doc_id")
        .localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Kish effective sample size of the length-weighted corpus — how
    * many unweighted documents is a token-budgeted (char-weighted)
    * eval statistically worth? Exact decimal moments, one closing
    * chain.
    */
  def q317_kish_neff(s: SparkSession, dir: String): DataFrame =
    Relational.kishNeff(
      docs(s, dir).filter(col("n_chars").isNotNull), col("n_chars"))

  /** Poisson dispersion screen over per-user event counts — is the
    * event stream burstier than a Poisson process (bots, scraping
    * runs)? Exact integer χ² ratio + the Wilson–Hilferty z chain.
    */
  def q316_poisson_dispersion(s: SparkSession, dir: String)
      : DataFrame = {
    val perUser = t(s, dir, "events").groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
    Relational.poissonDispersion(perUser, col("n_ev"))
  }

  /** DP count release over event types: Laplace noise from the keyed
    * PRF (md5-derived inverse-CDF draws — reproducible given the
    * seed), ε = 1. The noisy column is the releasable one; `n` rides
    * along for the audit.
    */
  def q315_dp_counts(s: SparkSession, dir: String): DataFrame =
    Relational.dpNoisyCounts(
      t(s, dir, "events").filter(col("event_type").isNotNull),
      Seq(col("event_type")), epsilon = 1.0, seed = "graft-dp")
      .withColumnRenamed("g0", "event_type")

  /** Anytime-valid A/B monitor (mSPRT): the daily always-valid
    * p-value path for even-vs-odd users converting on even value
    * cents — the peek-proof companion of the fixed-n z gate.
    * Bounded-day cumulative windows, fixed per-day chains snapped
    * before the running min.
    */
  def q314_msprt(s: SparkSession, dir: String): DataFrame =
    Relational.msprtMonitor(
      t(s, dir, "events").filter(col("value").isNotNull),
      pmod(col("user_id"), lit(2L)) === 0,
      pmod(round(col("value") * 100).cast("long"), lit(2L)) === 0,
      col("ts"))

  /** Two-sample Kolmogorov–Smirnov: did the value distribution of
    * even vs odd users diverge anywhere (not just in location)?
    * Cross-multiplied exact supremum off the distinct-cent cumulative
    * table, one fixed λ/8-term-p chain.
    */
  def q313_ks(s: SparkSession, dir: String): DataFrame =
    Relational.ksTest(
      t(s, dir, "events").filter(col("value").isNotNull),
      pmod(col("user_id"), lit(2L)) === 0,
      round(col("value") * 100).cast("long"))

  /** Hilbert curve values over bucketed event coordinates — q305's
    * better-locality sibling (every consecutive curve step is
    * grid-adjacent, so min/max file skipping prunes tighter); the 50
    * lowest curve cells under the exact level-unrolled oracle.
    */
  def q312_hilbert(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_id"),
      pmod(col("user_id"), lit(32L)).as("x"),
      pmod(col("event_id"), lit(32L)).as("y"))
    ev.select(col("event_id"), col("x"), col("y"),
      Relational.hilbertValue(col("x"), col("y"), bits = 5).as("h"))
      .orderBy(col("h"), col("event_id")).limit(50)
  }

  /** 3-D Hilbert curve values (Skilling's n-D transpose algorithm)
    * over bucketed event coordinates — q312's multi-column
    * generalization: a real lakehouse clusters 3-4 quasi-key columns,
    * and the n-D curve is what makes ONE sort key serve range
    * predicates on any of them. The 50 lowest curve cells under the
    * exact step-unrolled oracle.
    */
  def q322_hilbert3d(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("value").isNotNull)
      .select(col("event_id"),
        pmod(col("user_id"), lit(8L)).as("x"),
        pmod(col("event_id"), lit(8L)).as("y"),
        pmod(round(col("value") * 100).cast("long"), lit(8L)).as("z"))
    Relational.withHilbertValueN(ev,
      Seq(col("x"), col("y"), col("z")), "h", bits = 3)
      .select(col("event_id"), col("x"), col("y"), col("z"), col("h"))
      .orderBy(col("h"), col("event_id")).limit(50)
  }

  /** The layout decision CLOSED END TO END (the round-12
    * file-skipping audit finally driving a choice): write the
    * bucketed event cube TWICE — lexicographically sorted on x (the
    * single-key layout that serves only x) and Hilbert-clustered on
    * (x, y, z) — then probe a selective range on z, the NON-LEADING
    * column, through [[Diagnose.fileSkippingReport]] on both. The
    * in-query `require` pins the claim that justifies the re-layout
    * write cost: the clustered layout's min/max-pruned scan reads
    * strictly fewer rows (the x-sorted layout is blind to z — every
    * file spans the full z range). The RESULT row is the
    * layout-invariant ground truth (total rows + matched rows per
    * dimension probe), which DuckDB replays directly — so the gate
    * hash-fails if bucketing/probe semantics drift, and fails loudly
    * if clustering ever stops paying. EAGER (two layout writes + two
    * audits); temp tree deleted before returning.
    *
    * Layout determinism (round-15 fix): the original layouts used
    * `repartitionByRange`, whose boundary SAMPLING depends on the
    * input split layout — the same data could land in different files
    * across environments/core counts, and the `require` below became
    * environment-sensitive (it threw in the round-14 driver bench at
    * sf0.1 while passing everywhere else). Both layouts now derive an
    * explicit VALUE-ONLY bucket (x-range octile; Hilbert top-3-bits
    * octant) and write `partitionBy` that bucket after hashing each
    * bucket wholly into one task — every file's content is a pure
    * function of row values, so the pruning counts (and the require)
    * are reproducible on any split layout at any core count.
    */
  def q323_layout_skipping(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_layout")
    try {
      val cube = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"),
          pmod(col("user_id"), lit(64L)).as("x"),
          pmod(col("event_id"), lit(64L)).as("y"),
          pmod(round(col("value") * 100).cast("long"), lit(64L))
            .as("z"))
      val cols = Seq(col("x"), col("y"), col("z"))
      val xSorted = base.resolve("xsorted").toString
      val clustered = base.resolve("hilbert").toString
      // x-range octile: files blind to z by construction
      cube.withColumn("_pb", shiftright(col("x"), 3))
        .repartition(col("_pb")).sortWithinPartitions(col("x"))
        .write.partitionBy("_pb").parquet(xSorted)
      // Hilbert octant: bits=6 over 3 dims → h ∈ [0, 2^18); the top 3
      // bits are the first-level curve subdivision = one spatial
      // octant, so each file's z range is exactly [0,31] or [32,63]
      Relational.withHilbertValueN(cube, cols, "_h", bits = 6)
        .withColumn("_pb", shiftright(col("_h"), 15))
        .repartition(col("_pb")).sortWithinPartitions(col("_h"))
        .drop("_h")
        .write.partitionBy("_pb").parquet(clustered)
      val (zLo, zHi) = (24L, 31L)
      def scanned(root: String): Long =
        Diagnose.fileSkippingReport(s, root, col("z"), zLo, zHi)
          .head().getAs[Long]("n_rows_scanned")
      val (sBase, sClus) = (scanned(xSorted), scanned(clustered))
      require(sClus < sBase,
        s"3-col Hilbert clustering must beat the x-sorted layout on " +
          s"a z probe: scanned $sClus vs $sBase")
      cube.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("x").between(24L, 31L), 1L).otherwise(0L))
          .as("matched_x"),
        sum(when(col("y").between(24L, 31L), 1L).otherwise(0L))
          .as("matched_y"),
        sum(when(col("z").between(zLo, zHi), 1L).otherwise(0L))
          .as("matched_z")).localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Per-file Bloom side-car skipping under the oracle — the pruning
    * tier min/max CANNOT provide: write the events cube range-
    * partitioned on user_id (so event_id, the probe column, is
    * UNCORRELATED with file boundaries and every file's
    * [min, max] spans the probes — min/max skipping is blind), build
    * the side-car, probe three ids, and `require` in-query that (a)
    * the Bloom tier scans strictly fewer rows than the min/max tier,
    * and (b) the Bloom-pruned read returns EXACTLY the rows of the
    * exact filter (no false negatives, the Bloom contract). The
    * RESULT row is the layout-invariant ground truth the oracle
    * replays (total rows, matched rows, found probes). EAGER (layout
    * write + side-car build + audits); temp tree deleted on return.
    */
  def q324_bloom_skipping(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_bloom")
    try {
      val laid = base.resolve("byuser").toString
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"))
      ev.repartitionByRange(8, col("user_id"))
        .sortWithinPartitions(col("user_id"))
        .write.parquet(laid)
      Diagnose.writeBloomSidecar(s, laid, "event_id")
      val probes = Seq(7L, 1013L, 4099L)
      val rep = Diagnose.bloomSkippingReport(s, laid, "event_id",
        probes).localCheckpoint()
      val r = rep.head()
      require(r.getAs[Long]("n_rows_scanned_bloom") <
        r.getAs[Long]("n_rows_scanned_minmax"),
        s"bloom tier must beat min/max on uncorrelated point " +
          s"lookups: $r")
      val viaBloom = Diagnose.readWithBloom(s, laid, "event_id",
        probes)
      val exact = s.read.parquet(laid)
        .filter(col("event_id").isin(probes: _*))
      require(sameRows(viaBloom, exact),
        "bloom-pruned read diverged from the exact filter")
      ev.agg(count(lit(1)).as("n_rows"),
        sum(when(col("event_id").isin(probes: _*), 1L).otherwise(0L))
          .as("n_rows_matched"),
        countDistinct(when(col("event_id").isin(probes: _*),
          col("event_id"))).as("n_probes_found"))
        .localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Adjusted Rand Index: does a source-based bucketing of the corpus
    * recover the language partition? The pair-counting
    * chance-corrected companion of the NMI gate — exact decimal pair
    * sums, one closing double chain.
    */
  def q311_ari(s: SparkSession, dir: String): DataFrame =
    Relational.adjustedRandIndex(docs(s, dir),
      col("lang"), col("source"))

  /** Cochran–Mantel–Haenszel stratified 2×2 association — q308's
    * categorical sibling: exposure (even event id) vs outcome (value
    * cents ≡ 0 mod 3) adjusted for the user-cohort stratum, with the
    * MH common odds ratio + RBG CI. Exact per-stratum cells,
    * micro-snapped moment summands, fixed closing chains.
    */
  def q310_cmh(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("value").isNotNull)
    Relational.cmhTest(ev,
      pmod(col("user_id"), lit(5L)),
      pmod(col("event_id"), lit(2L)) === 0,
      pmod(round(col("value") * 100).cast("long"), lit(3L)) === 0)
  }

  /** Mondrian k-anonymity generalizer over q306's release axes — the
    * FIXER for the audit's verdict: greedy lower-median cuts over the
    * (value-cent, user-cohort) quasi-id space, depth ≤ 3, every cut
    * kept only if both halves hold ≥ k = 50; the generalized release
    * re-audits clean (`require`d in-query). EAGER (per-round cut
    * probes are jobs); the oracle unrolls the identical three rounds
    * as CTEs.
    */
  def q309_mondrian(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("value").isNotNull)
    val out = Relational.mondrianAnonymize(ev, Seq(
      pmod(round(col("value") * 100).cast("long"), lit(100L)),
      pmod(col("user_id"), lit(50L))), k = 50L, maxDepth = 3)
      .localCheckpoint()
    val minN = out.agg(min(col("n"))).head().getLong(0)
    require(minN >= 50L,
      s"mondrian release re-audit failed: min class $minN < k=50")
    out
  }

  /** Hyperplane-ANN index FULL lifecycle under the oracle (the q265/
    * q291/q293 discipline for the dense-retrieval index — the last
    * persisted index family to absorb removals without rebuild):
    * write half the embeddings, append the other half (validated
    * against the persisted LSH meta), tombstone-delete every 9th id
    * (write-once ids batch + one `_live` marker PUT), serve the
    * partition-pruned probes, compact into a fresh marker-committed
    * `vectors_gen`, and `require` compacted serving ≡ tombstoned
    * serving. The DuckDB oracle replays the q18 bucket/cosine chains
    * over the SURVIVORS only, so deleted ids surfacing from any
    * probe — before or after compaction — hash-fails the gate.
    * EAGER (index writes are jobs); temp tree deleted on return.
    */
  def q307_ann_index_lifecycle(s: SparkSession, dir: String)
      : DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_annlife")
    try {
      val p = base.resolve("idx").toString
      val emb = t(s, dir, "embeddings").persist()
      SimSearch.writeAnnIndex(emb.filter(col("vec_id") % 2 === 0), p,
        "vec_id", "embedding", planes = 6, dim = 64)
      SimSearch.appendToAnnIndex(emb.filter(col("vec_id") % 2 =!= 0),
        p, "vec_id", "embedding")
      SimSearch.deleteFromAnnIndex(
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id")), p)
      val queries = emb.filter(col("vec_id") < 20)
      def serve(): DataFrame = SimSearch.annTopKFromIndex(
        SimSearch.readAnnIndex(s, p), queries, "vec_id", "embedding",
        k = 5, planes = 6, dim = 64)
      val tombstoned = serve().localCheckpoint()
      SimSearch.compactAnnIndex(s, p)
      val compacted = serve().localCheckpoint()
      require(sameRows(tombstoned, compacted),
        "compacted ANN serving diverged from tombstoned serving")
      emb.unpersist()
      compacted
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** One-row ECE / MCE / Brier calibration summary of q179's served
    * naive-Bayes classifier — exact integer bucket gaps, decimal
    * Brier moment, three closing divisions.
    */
  def q289_calibration_summary(s: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(s, dir)
    val y = col("text").contains("data")
    val w = graft.text.Classifier.trainNaiveBayes(d, "text", y)
    graft.text.Classifier.calibrationSummary(d, "text", "doc_id", y, w)
  }

  /** Deterministic replay of the STREAMING sessionization twin
    * ([[graft.streaming.StreamingSessions]]): four event-time-ordered
    * micro-batches drive the bucketed per-user session state (the
    * q125 replay shape, WITH real batch ids so the per-bucket
    * applied-batch watermark is exercised — batch 2 replays once and
    * must be a no-op), and the report off the STATE equals the batch
    * [[graft.streaming.EventOps.sessionize]] (q24) row for row, so
    * q24's DuckDB oracle gates the incremental merge — open-session
    * extension, fresh-ordinal renumbering, unrounded state sums —
    * end to end. EAGER like q125 (state swaps are jobs); temp tree
    * deleted before returning.
    */
  def q272_streaming_sessions_replay(
      s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingSessions
    val ev = t(s, dir, "events")
    val Array(lo, hi) = ev
      .agg(min(col("ts").cast("long")), max(col("ts").cast("long")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val base = java.nio.file.Files.createTempDirectory("graft_ssess")
    try {
      val statePath = base.resolve("state").toString
      val step = math.max((hi - lo) / 4 + 1, 1L)
      (0 until 4).foreach { i =>
        val (bLo, bHi) = (lo + i * step, lo + (i + 1) * step)
        val b = ev.filter(col("ts").cast("long") >= bLo &&
          col("ts").cast("long") < bHi)
        StreamingSessions.processBatch(b, i.toLong, statePath,
          gapMinutes = 30, buckets = 4)
        // at-least-once: replay one mid-stream batch verbatim — the
        // watermark must make it a no-op or the oracle catches the
        // double-merged counts
        if (i == 2)
          StreamingSessions.processBatch(b, i.toLong, statePath,
            gapMinutes = 30, buckets = 4)
      }
      StreamingSessions.report(s, statePath).localCheckpoint()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Deterministic replay of the STREAMING funnel-latency twin
    * ([[graft.streaming.StreamingFunnel.latencyReport]]): the q125
    * event-time-ordered replay drives the bucketed state, and the
    * conversion-gap percentiles read off the STATE — under the twins'
    * exactness precondition the report equals the batch
    * [[graft.streaming.EventOps.funnelLatency]] (q124) bit for bit,
    * so q124's oracle gates the incremental machinery end to end.
    */
  def q249_streaming_latency_replay(
      s: SparkSession, dir: String): DataFrame =
    replayFunnelState(s, dir, Seq("view", "click", "purchase")) { p =>
      graft.streaming.StreamingFunnel.latencyReport(
        s, p, Seq("view", "click", "purchase"))
    }

  // ---------------------------------------------------------------- maps

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_groupby_agg" -> (q01_groupby_agg(_, _)),
    "q02_distinct_keys" -> (q02_distinct_keys(_, _)),
    "q03_sample_joinback" -> (q03_sample_joinback(_, _)),
    "q04_filter_algebra" -> (q04_filter_algebra(_, _)),
    "q05_telemetry" -> (q05_telemetry(_, _)),
    "q06_sort_limit" -> (q06_sort_limit(_, _)),
    "q07_merge_split" -> (q07_merge_split(_, _)),
    "q08_union_weeks" -> (q08_union_weeks(_, _)),
    "q09_trajectory" -> (q09_trajectory(_, _)),
    "q10_tensor" -> (q10_tensor(_, _)),
    "q11_normalize" -> (q11_normalize(_, _)),
    "q12_ingest_summary" -> (q12_ingest_summary(_, _)),
    "q13_exact_dedup" -> (q13_exact_dedup(_, _)),
    "q14_minhash" -> (q14_minhash(_, _)),
    "q15_lsh_buckets" -> (q15_lsh_buckets(_, _)),
    "q16_near_dup_pairs" -> (q16_near_dup_pairs(_, _)),
    "q17_cosine_topk" -> (q17_cosine_topk(_, _)),
    "q18_ann_topk" -> (q18_ann_topk(_, _)),
    "q19_text_stats" -> (q19_text_stats(_, _)),
    "q20_text_quality" -> (q20_text_quality(_, _)),
    "q21_simhash" -> (q21_simhash(_, _)),
    "q22_nearest_distance" -> (q22_nearest_distance(_, _)),
    "q23_events_window" -> (q23_events_window(_, _)),
    "q24_sessionize" -> (q24_sessionize(_, _)),
    "q25_multimodal_meta" -> (q25_multimodal_meta(_, _)),
    "q26_ingest_roundtrip" -> (q26_ingest_roundtrip(_, _)),
    "q27_ivf_topk" -> (q27_ivf_topk(_, _)),
    "q28_salted_join" -> (q28_salted_join(_, _)),
    "q29_dedup_clusters" -> (q29_dedup_clusters(_, _)),
    "q30_asof_join" -> (q30_asof_join(_, _)),
    "q31_pivot" -> (q31_pivot(_, _)),
    "q32_frame_slice" -> (q32_frame_slice(_, _)),
    "q33_exact_jaccard" -> (q33_exact_jaccard(_, _)),
    "q34_cosine_near_dup" -> (q34_cosine_near_dup(_, _)),
    "q35_token_estimate" -> (q35_token_estimate(_, _)),
    "q36_percentiles" -> (q36_percentiles(_, _)),
    "q37_range_join" -> (q37_range_join(_, _)),
    "q38_chunking" -> (q38_chunking(_, _)),
    "q39_stratified_sample" -> (q39_stratified_sample(_, _)),
    "q40_token_shards" -> (q40_token_shards(_, _)),
    "q41_repetition" -> (q41_repetition(_, _)),
    "q42_decontaminate" -> (q42_decontaminate(_, _)),
    "q43_vocab" -> (q43_vocab(_, _)),
    "q44_tfidf" -> (q44_tfidf(_, _)),
    "q45_weighted_sample" -> (q45_weighted_sample(_, _)),
    "q46_redact" -> (q46_redact(_, _)),
    "q47_quantize" -> (q47_quantize(_, _)),
    "q48_kmeans" -> (q48_kmeans(_, _)),
    "q49_random_projection" -> (q49_random_projection(_, _)),
    "q50_zorder" -> (q50_zorder(_, _)),
    "q51_hard_negatives" -> (q51_hard_negatives(_, _)),
    "q52_stratified_priority" -> (q52_stratified_priority(_, _)),
    "q53_langid_profile" -> (q53_langid_profile(_, _)),
    "q54_bpe_vocab" -> (q54_bpe_vocab(_, _)),
    "q55_decontaminate_bloom" -> (q55_decontaminate_bloom(_, _)),
    "q56_keep_best" -> (q56_keep_best(_, _)),
    "q57_clean_corpus" -> (q57_clean_corpus(_, _)),
    "q58_semdedup" -> (q58_semdedup(_, _)),
    "q59_pack_sequences" -> (q59_pack_sequences(_, _)),
    "q60_contamination_report" -> (q60_contamination_report(_, _)),
    "q61_oov_rate" -> (q61_oov_rate(_, _)),
    "q62_hash_split" -> (q62_hash_split(_, _)),
    "q63_token_quota" -> (q63_token_quota(_, _)),
    "q64_corpus_stats" -> (q64_corpus_stats(_, _)),
    "q65_ann_recall" -> (q65_ann_recall(_, _)),
    "q66_line_dedup" -> (q66_line_dedup(_, _)),
    "q67_temperature_mix" -> (q67_temperature_mix(_, _)),
    "q68_temperature_tokens" -> (q68_temperature_tokens(_, _)),
    "q69_normalized_dedup" -> (q69_normalized_dedup(_, _)),
    "q70_span_dedup" -> (q70_span_dedup(_, _)),
    "q71_fuzzy_join" -> (q71_fuzzy_join(_, _)),
    "q72_compression_ratio" -> (q72_compression_ratio(_, _)),
    "q73_pack_offsets" -> (q73_pack_offsets(_, _)),
    "q74_dedup_report" -> (q74_dedup_report(_, _)),
    "q75_gopher_rules" -> (q75_gopher_rules(_, _)),
    "q76_dsir" -> (q76_dsir(_, _)),
    "q77_lm_score" -> (q77_lm_score(_, _)),
    "q78_bm25" -> (q78_bm25(_, _)),
    "q79_line_dedup_by_source" -> (q79_line_dedup_by_source(_, _)),
    "q80_key_skew" -> (q80_key_skew(_, _)),
    "q81_source_similarity" -> (q81_source_similarity(_, _)),
    "q82_fim_split" -> (q82_fim_split(_, _)),
    "q83_jsonl_roundtrip" -> (q83_jsonl_roundtrip(_, _)),
    "q84_source_divergence" -> (q84_source_divergence(_, _)),
    "q85_upsert_merge" -> (q85_upsert_merge(_, _)),
    "q86_global_shuffle" -> (q86_global_shuffle(_, _)),
    "q87_quality_classifier" -> (q87_quality_classifier(_, _)),
    "q88_ccnet_buckets" -> (q88_ccnet_buckets(_, _)),
    "q89_simhash_pairs" -> (q89_simhash_pairs(_, _)),
    "q90_embedding_diversity" -> (q90_embedding_diversity(_, _)),
    "q91_unimax_sample" -> (q91_unimax_sample(_, _)),
    "q92_shared_spans" -> (q92_shared_spans(_, _)),
    "q93_remove_spans" -> (q93_remove_spans(_, _)),
    "q94_cluster_safe_split" -> (q94_cluster_safe_split(_, _)),
    "q95_tokenizer_fertility" -> (q95_tokenizer_fertility(_, _)),
    "q96_packing_stats" -> (q96_packing_stats(_, _)),
    "q97_semantic_decontaminate" -> (q97_semantic_decontaminate(_, _)),
    "q98_source_cap" -> (q98_source_cap(_, _)),
    "q99_removal_audit" -> (q99_removal_audit(_, _)),
    "q100_kmv_distinct" -> (q100_kmv_distinct(_, _)),
    "q101_sketch_overlap" -> (q101_sketch_overlap(_, _)),
    "q102_cms_freq" -> (q102_cms_freq(_, _)),
    "q103_phrase_search" -> (q103_phrase_search(_, _)),
    "q104_sample_quantiles" -> (q104_sample_quantiles(_, _)),
    "q105_bpe_learn" -> (q105_bpe_learn(_, _)),
    "q106_pq_encode" -> (q106_pq_encode(_, _)),
    "q107_novelty" -> (q107_novelty(_, _)),
    "q108_source_entropy" -> (q108_source_entropy(_, _)),
    "q109_robust_outliers" -> (q109_robust_outliers(_, _)),
    "q110_funnel" -> (q110_funnel(_, _)),
    "q111_keywords" -> (q111_keywords(_, _)),
    "q112_retention" -> (q112_retention(_, _)),
    "q113_rate_anomalies" -> (q113_rate_anomalies(_, _)),
    "q114_corpus_diff" -> (q114_corpus_diff(_, _)),
    "q115_rollup" -> (q115_rollup(_, _)),
    "q116_vocab_coverage" -> (q116_vocab_coverage(_, _)),
    "q117_modality_coverage" -> (q117_modality_coverage(_, _)),
    "q118_sliding_window" -> (q118_sliding_window(_, _)),
    "q119_fightin_words" -> (q119_fightin_words(_, _)),
    "q120_outliers_approx" -> (q120_outliers_approx(_, _)),
    "q121_ivfpq_refined" -> (q121_ivfpq_refined(_, _)),
    "q122_embedding_drift" -> (q122_embedding_drift(_, _)),
    "q123_ivfpq_residual" -> (q123_ivfpq_residual(_, _)),
    "q124_funnel_latency" -> (q124_funnel_latency(_, _)),
    "q125_streaming_funnel_replay" -> (q125_streaming_funnel_replay(_, _)),
    "q126_classifier_train" -> (q126_classifier_train(_, _)),
    "q127_bitext_mine" -> (q127_bitext_mine(_, _)),
    "q128_distribution_drift" -> (q128_distribution_drift(_, _)),
    "q129_streaming_retention_replay" ->
      (q129_streaming_retention_replay(_, _)),
    "q130_html_extract" -> (q130_html_extract(_, _)),
    "q131_domain_cap" -> (q131_domain_cap(_, _)),
    "q132_url_canonical_dedup" -> (q132_url_canonical_dedup(_, _)),
    "q133_pagerank" -> (q133_pagerank(_, _)),
    "q134_nfc_normalize" -> (q134_nfc_normalize(_, _)),
    "q135_script_profile" -> (q135_script_profile(_, _)),
    "q136_cube" -> (q136_cube(_, _)),
    "q137_harmonic_centrality" -> (q137_harmonic_centrality(_, _)),
    "q138_mojibake" -> (q138_mojibake(_, _)),
    "q139_attribution" -> (q139_attribution(_, _)),
    "q140_pr_curve" -> (q140_pr_curve(_, _)),
    "q141_robots" -> (q141_robots(_, _)),
    "q142_sitemap" -> (q142_sitemap(_, _)),
    "q143_readability" -> (q143_readability(_, _)),
    "q144_pii_cards" -> (q144_pii_cards(_, _)),
    "q145_hybrid_rrf" -> (q145_hybrid_rrf(_, _)),
    "q146_communities" -> (q146_communities(_, _)),
    "q147_expectations" -> (q147_expectations(_, _)),
    "q148_winsorized" -> (q148_winsorized(_, _)),
    "q149_interval_overlap" -> (q149_interval_overlap(_, _)),
    "q150_crawl_frontier" -> (q150_crawl_frontier(_, _)),
    "q151_set_algebra" -> (q151_set_algebra(_, _)),
    "q152_window_analytics" -> (q152_window_analytics(_, _)),
    "q153_unpivot" -> (q153_unpivot(_, _)),
    "q154_calendar" -> (q154_calendar(_, _)),
    "q155_string_funcs" -> (q155_string_funcs(_, _)),
    "q156_resample_daily" -> (q156_resample_daily(_, _)),
    "q157_ewma" -> (q157_ewma(_, _)),
    "q158_regression" -> (q158_regression(_, _)),
    "q159_html_meta" -> (q159_html_meta(_, _)),
    "q160_encoding_audit" -> (q160_encoding_audit(_, _)),
    "q161_crawl_delay" -> (q161_crawl_delay(_, _)),
    "q162_triangles" -> (q162_triangles(_, _)),
    "q163_kcore" -> (q163_kcore(_, _)),
    "q164_clustering" -> (q164_clustering(_, _)),
    "q165_reciprocity" -> (q165_reciprocity(_, _)),
    "q166_hll_distinct" -> (q166_hll_distinct(_, _)),
    "q167_pmi_collocations" -> (q167_pmi_collocations(_, _)),
    "q168_hits" -> (q168_hits(_, _)),
    "q169_hill_tail" -> (q169_hill_tail(_, _)),
    "q170_transitions" -> (q170_transitions(_, _)),
    "q171_matryoshka_recall" -> (q171_matryoshka_recall(_, _)),
    "q172_cdc_chunks" -> (q172_cdc_chunks(_, _)),
    "q173_burstiness" -> (q173_burstiness(_, _)),
    "q174_psi_drift" -> (q174_psi_drift(_, _)),
    "q175_seasonal_anomalies" -> (q175_seasonal_anomalies(_, _)),
    "q176_grouping_sets" -> (q176_grouping_sets(_, _)),
    "q177_decay_mix" -> (q177_decay_mix(_, _)),
    "q178_gini_concentration" -> (q178_gini_concentration(_, _)),
    "q179_calibration" -> (q179_calibration(_, _)),
    "q180_corpus_card" -> (q180_corpus_card(_, _)),
    "q181_association_rules" -> (q181_association_rules(_, _)),
    "q182_journeys" -> (q182_journeys(_, _)),
    "q183_lang_confusion" -> (q183_lang_confusion(_, _)),
    "q184_memorization_audit" -> (q184_memorization_audit(_, _)),
    "q185_entry_exit" -> (q185_entry_exit(_, _)),
    "q186_zscores" -> (q186_zscores(_, _)),
    "q187_centroid_similarity" -> (q187_centroid_similarity(_, _)),
    "q188_rfm" -> (q188_rfm(_, _)),
    "q189_ab_test" -> (q189_ab_test(_, _)),
    "q190_lead_lag" -> (q190_lead_lag(_, _)),
    "q191_cohort_ltv" -> (q191_cohort_ltv(_, _)),
    "q192_soft_dedup_weights" -> (q192_soft_dedup_weights(_, _)),
    "q193_peaks" -> (q193_peaks(_, _)),
    "q194_dedup_recall" -> (q194_dedup_recall(_, _)),
    "q195_subquery_parity" -> (q195_subquery_parity(_, _)),
    "q196_shipping_priority" -> (q196_shipping_priority(_, _)),
    "q197_local_supplier_volume" -> (q197_local_supplier_volume(_, _)),
    "q198_returned_items" -> (q198_returned_items(_, _)),
    "q199_revenue_share" -> (q199_revenue_share(_, _)),
    "q200_pipeline_preflight" -> (q200_pipeline_preflight(_, _)),
    "q201_join_cardinality" -> (q201_join_cardinality(_, _)),
    "q202_preference_pairs" -> (q202_preference_pairs(_, _)),
    "q203_eval_f1" -> (q203_eval_f1(_, _)),
    "q204_entity_resolution" -> (q204_entity_resolution(_, _)),
    "q205_pca_power" -> (q205_pca_power(_, _)),
    "q206_bloom_join_prune" -> (q206_bloom_join_prune(_, _)),
    "q207_cuped" -> (q207_cuped(_, _)),
    "q208_ndcg" -> (q208_ndcg(_, _)),
    "q209_promo_revenue" -> (q209_promo_revenue(_, _)),
    "q210_small_qty_revenue" -> (q210_small_qty_revenue(_, _)),
    "q211_big_orders" -> (q211_big_orders(_, _)),
    "q212_order_count_distribution" ->
      (q212_order_count_distribution(_, _)),
    "q213_top_supplier" -> (q213_top_supplier(_, _)),
    "q214_disjunctive_filter" -> (q214_disjunctive_filter(_, _)),
    "q215_dormant_customers" -> (q215_dormant_customers(_, _)),
    "q216_late_order_priority" -> (q216_late_order_priority(_, _)),
    "q217_trade_volume" -> (q217_trade_volume(_, _)),
    "q218_market_share" -> (q218_market_share(_, _)),
    "q219_product_profit" -> (q219_product_profit(_, _)),
    "q220_priority_lines" -> (q220_priority_lines(_, _)),
    "q221_supplier_diversity" -> (q221_supplier_diversity(_, _)),
    "q222_lone_late_supplier" -> (q222_lone_late_supplier(_, _)),
    "q223_min_cost_supplier" -> (q223_min_cost_supplier(_, _)),
    "q224_important_parts" -> (q224_important_parts(_, _)),
    "q225_keyword_shippers" -> (q225_keyword_shippers(_, _)),
    "q226_mrr" -> (q226_mrr(_, _)),
    "q227_rouge_bleu" -> (q227_rouge_bleu(_, _)),
    "q228_chi_square" -> (q228_chi_square(_, _)),
    "q229_spearman" -> (q229_spearman(_, _)),
    "q230_benford" -> (q230_benford(_, _)),
    "q231_fk_audit" -> (q231_fk_audit(_, _)),
    "q232_scd2_history" -> (q232_scd2_history(_, _)),
    "q233_snapshot_diff" -> (q233_snapshot_diff(_, _)),
    "q234_roc_auc" -> (q234_roc_auc(_, _)),
    "q235_cohen_kappa" -> (q235_cohen_kappa(_, _)),
    "q236_ohlc_bars" -> (q236_ohlc_bars(_, _)),
    "q237_dataset_fingerprint" -> (q237_dataset_fingerprint(_, _)),
    "q238_trend_screen" -> (q238_trend_screen(_, _)),
    "q239_changepoint" -> (q239_changepoint(_, _)),
    "q240_autocorr" -> (q240_autocorr(_, _)),
    "q241_kaplan_meier" -> (q241_kaplan_meier(_, _)),
    "q242_incremental_agg" -> (q242_incremental_agg(_, _)),
    "q243_blocklist" -> (q243_blocklist(_, _)),
    "q244_streaming_agg_replay" -> (q244_streaming_agg_replay(_, _)),
    "q245_welch_ttest" -> (q245_welch_ttest(_, _)),
    "q246_theil_sen" -> (q246_theil_sen(_, _)),
    "q247_cdc_apply" -> (q247_cdc_apply(_, _)),
    "q248_preflight_artifact" -> (q248_preflight_artifact(_, _)),
    "q249_streaming_latency_replay" ->
      (q249_streaming_latency_replay(_, _)),
    "q250_opq_residual" -> (q250_opq_residual(_, _)),
    "q251_containment" -> (q251_containment(_, _)),
    "q252_stl_decompose" -> (q252_stl_decompose(_, _)),
    "q253_neyman_sample" -> (q253_neyman_sample(_, _)),
    "q254_personalized_pagerank" ->
      (q254_personalized_pagerank(_, _)),
    "q255_fellegi_sunter" -> (q255_fellegi_sunter(_, _)),
    "q256_krippendorff_alpha" -> (q256_krippendorff_alpha(_, _)),
    "q257_nelson_aalen" -> (q257_nelson_aalen(_, _)),
    "q258_seasonal_naive" -> (q258_seasonal_naive(_, _)),
    "q259_bh_fdr" -> (q259_bh_fdr(_, _)),
    "q260_blocking_quality" -> (q260_blocking_quality(_, _)),
    "q261_jaro_winkler" -> (q261_jaro_winkler(_, _)),
    "q262_linkage_decisions" -> (q262_linkage_decisions(_, _)),
    "q263_hash_features" -> (q263_hash_features(_, _)),
    "q264_conformal" -> (q264_conformal(_, _)),
    "q265_pq_index_delete" -> (q265_pq_index_delete(_, _)),
    "q266_fs_em" -> (q266_fs_em(_, _)),
    "q267_mann_whitney" -> (q267_mann_whitney(_, _)),
    "q268_adamic_adar" -> (q268_adamic_adar(_, _)),
    "q269_gini" -> (q269_gini(_, _)),
    "q270_js_divergence" -> (q270_js_divergence(_, _)),
    "q271_cramers_v" -> (q271_cramers_v(_, _)),
    "q272_streaming_sessions_replay" ->
      (q272_streaming_sessions_replay(_, _)),
    "q273_incremental_join" -> (q273_incremental_join(_, _)),
    "q274_kendall_tau" -> (q274_kendall_tau(_, _)),
    "q275_cohens_d" -> (q275_cohens_d(_, _)),
    "q276_bootstrap_ci" -> (q276_bootstrap_ci(_, _)),
    "q277_trimmed_means" -> (q277_trimmed_means(_, _)),
    "q278_log_rank" -> (q278_log_rank(_, _)),
    "q279_anova_f" -> (q279_anova_f(_, _)),
    "q280_levene" -> (q280_levene(_, _)),
    "q281_kruskal_wallis" -> (q281_kruskal_wallis(_, _)),
    "q282_vocab_richness" -> (q282_vocab_richness(_, _)),
    "q283_assortativity" -> (q283_assortativity(_, _)),
    "q284_modularity" -> (q284_modularity(_, _)),
    "q285_mutual_information" -> (q285_mutual_information(_, _)),
    "q286_mcnemar" -> (q286_mcnemar(_, _)),
    "q287_rmst" -> (q287_rmst(_, _)),
    "q288_weighted_sample" -> (q288_weighted_sample(_, _)),
    "q289_calibration_summary" -> (q289_calibration_summary(_, _)),
    "q290_bm25_index" -> (q290_bm25_index(_, _)),
    "q291_bm25_index_delete" -> (q291_bm25_index_delete(_, _)),
    "q292_quantile_normalize" -> (q292_quantile_normalize(_, _)),
    "q293_signed_index_lifecycle" -> (q293_signed_index_lifecycle(_, _)),
    "q294_mad" -> (q294_mad(_, _)),
    "q295_two_proportion" -> (q295_two_proportion(_, _)),
    "q296_logistic_fit" -> (q296_logistic_fit(_, _)),
    "q297_logistic_filter" -> (q297_logistic_filter(_, _)),
    "q298_cochran_q" -> (q298_cochran_q(_, _)),
    "q299_friedman" -> (q299_friedman(_, _)),
    "q300_persisted_hybrid" -> (q300_persisted_hybrid(_, _)),
    "q301_by_fdr" -> (q301_by_fdr(_, _)),
    "q302_hazard_ratio" -> (q302_hazard_ratio(_, _)),
    "q303_odds_ratio" -> (q303_odds_ratio(_, _)),
    "q304_poisson_rate" -> (q304_poisson_rate(_, _)),
    "q305_zorder" -> (q305_zorder(_, _)),
    "q306_k_anonymity" -> (q306_k_anonymity(_, _)),
    "q307_ann_index_lifecycle" -> (q307_ann_index_lifecycle(_, _)),
    "q308_stratified_logrank" -> (q308_stratified_logrank(_, _)),
    "q309_mondrian" -> (q309_mondrian(_, _)),
    "q310_cmh" -> (q310_cmh(_, _)),
    "q311_ari" -> (q311_ari(_, _)),
    "q312_hilbert" -> (q312_hilbert(_, _)),
    "q313_ks" -> (q313_ks(_, _)),
    "q314_msprt" -> (q314_msprt(_, _)),
    "q315_dp_counts" -> (q315_dp_counts(_, _)),
    "q316_poisson_dispersion" -> (q316_poisson_dispersion(_, _)),
    "q317_kish_neff" -> (q317_kish_neff(_, _)),
    "q318_ipw" -> (q318_ipw(_, _)),
    "q319_holm" -> (q319_holm(_, _)),
    "q320_proportion_effect" -> (q320_proportion_effect(_, _)),
    "q321_bm25_time_travel" -> (q321_bm25_time_travel(_, _)),
    "q322_hilbert3d" -> (q322_hilbert3d(_, _)),
    "q324_bloom_skipping" -> (q324_bloom_skipping(_, _)),
    "q325_unigram_learn" -> (q325_unigram_learn(_, _)),
    "q327_aipw" -> (q327_aipw(_, _)),
    "q328_takedown" -> (q328_takedown(_, _)),
    "q329_index_drift" -> (q329_index_drift(_, _)),
    "q330_unigram_em2" -> (q330_unigram_em2(_, _)),
    "q326_unigram_apply" -> (q326_unigram_apply(_, _)),
    "q331_corpus_takedown" -> (q331_corpus_takedown(_, _)),
    "q332_drift_repair" -> (q332_drift_repair(_, _)),
    "q333_docpool_upsert" -> (q333_docpool_upsert(_, _)),
    "q323_layout_skipping" -> (q323_layout_skipping(_, _)))

  def oracleSql: Map[String, String] = OracleSql.all
}
