package graft

import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextOps}

/** Text-analysis + dedup operators over constructed corpora with known
  * answers.
  */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 0
    (2L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (3L, "completely different content about spark engines"),
    (4L, "der schnelle braune fuchs und der faule hund"))
    .toDF("doc_id", "text").cache()

  test("shingles: count and content") {
    val sh = docs.select(TextOps.shingles(
      TextOps.tokensSimple(col("text")), 3).as("sh"))
      .filter(col("sh").isNotNull).head()
      .getAs[scala.collection.Seq[String]]("sh")
    assert(sh.length == 7) // 9 tokens → 7 3-shingles
    assert(sh.head == "the quick brown")
    // shorter than k → empty
    val short = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(TextOps.shingles(TextOps.tokensSimple(col("text")), 3).as("sh"))
      .head().getAs[scala.collection.Seq[String]]("sh")
    assert(short.isEmpty)
  }

  test("bloom prefilter: membership complete, fp-rate bounded, " +
    "decontaminateBloom row-identical to exact at any fpp") {
    import graft.functions.BloomXX
    val members = (0 until 2000).map(i => s"member_$i")
    val bytes = BloomXX.build(members.toDF("g"), "g", fpp = 0.03)
    val probes = (members.map((_, true)) ++
      (0 until 2000).map(i => (s"absent_$i", false))).toDF("g", "member")
    val got = probes
      .select(col("member"), BloomXX.mightContain(col("g"), bytes).as("hit"))
      .collect()
    // no false negatives, ever
    assert(got.filter(_.getBoolean(0)).forall(_.getBoolean(1)))
    // false positives exist as a possibility but stay near fpp
    val fp = got.filterNot(_.getBoolean(0)).count(_.getBoolean(1))
    assert(fp <= 2000 * 0.03 * 5, s"implausible fp count $fp")

    // bloom-prefiltered decontamination == exact, even at an absurd fpp
    // (false positives must be killed by the verify join)
    val train = docs.filter(col("doc_id") =!= 4L)
    val eval = docs.filter(col("doc_id") === 4L)
    val exact = Dedup.decontaminate(train, eval, "text", "doc_id", k = 3,
      tokenizer = TextOps.tokensSimple)
      .select("doc_id").as[Long].collect().toSet
    for (fpp <- Seq(0.5, 0.01)) {
      val bloom = Dedup.decontaminateBloom(train, eval, "text", "doc_id",
        k = 3, fpp = fpp, tokenizer = TextOps.tokensSimple)
        .select("doc_id").as[Long].collect().toSet
      assert(bloom == exact, s"fpp=$fpp diverged from exact path")
    }
  }

  test("keepBestInCluster keeps the max-quality member, min id on ties") {
    // cluster {0,1,2}: quality 0.2 / 0.9 / 0.9 → id 1 wins the tie;
    // singleton 3 survives trivially
    val rows = Seq((0L, 0.2), (1L, 0.9), (2L, 0.9), (3L, 0.5))
      .toDF("doc_id", "quality")
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val clusters = Dedup.clusterLabels(
      rows.select(col("doc_id").as("id")), pairs)
    val kept = Dedup.keepBestInCluster(rows, clusters, "doc_id",
      col("quality"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    // string ids would silently null out under the negated tie rule —
    // must fail loudly instead
    val err = intercept[IllegalArgumentException] {
      Dedup.keepBestInCluster(
        rows.select(col("doc_id").cast("string"), col("quality")),
        clusters, "doc_id", col("quality"))
    }
    assert(err.getMessage.contains("numeric"))
    // Long.MinValue edge: raw long negation is a no-op there, which
    // would flip lowest-id-wins; the decimal tie rule stays exact
    val edgeRows = Seq((Long.MinValue, 0.9), (5L, 0.9), (7L, 0.1))
      .toDF("doc_id", "quality")
    val edgePairs = Seq((Long.MinValue, 5L), (5L, 7L)).toDF("id_a", "id_b")
    val edgeClusters = Dedup.clusterLabels(
      edgeRows.select(col("doc_id").as("id")), edgePairs)
    val edgeKept = Dedup.keepBestInCluster(edgeRows, edgeClusters,
      "doc_id", col("quality")).select("doc_id").as[Long].collect().toSet
    assert(edgeKept == Set(Long.MinValue),
      s"Long.MinValue must win the 0.9 tie as the lowest id: $edgeKept")
  }

  test("dedupNearKeepBest keeps best copy per near-dup cluster") {
    // docs 0/1 are exact dups; a min-id rule would keep 0, but an
    // id-ascending score flips the survivor to 1 — proving the score
    // drives selection
    val kept = Dedup.dedupNearKeepBest(docs, "text", "doc_id",
      score = col("doc_id"), threshold = 0.9,
      tokenizer = TextOps.tokensSimple)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(4L) && kept.contains(3L)) // non-dups survive
    assert(kept.contains(1L) && !kept.contains(0L)) // highest score = 1
  }

  test("cleanCorpus cascade: filters, dedups, and decontaminates in order") {
    import graft.text.Pipeline
    val corpus = Seq(
      // quality casualty: no stopwords, 3 tokens → quality < 0.1
      (0L, "alpha beta gamma"),
      // near-dup pair: survivors collapse to min id 1
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away"),
      // clean survivor
      (3L, "it is a truth of spark that partitions shape the cost of it all"),
      // contaminated: shares a 3-gram with the eval doc
      (4L, "the secret eval answer is hidden in this training document for sure"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "the secret eval answer leaked"))
      .toDF("doc_id", "text")
    val kept = Pipeline.cleanCorpus(corpus, eval, "text", "doc_id",
      minQuality = 0.05, maxDupRatio = 0.5, decontamK = 3,
      tokenizer = TextOps.tokensSimple)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    // the exact-decontam flavor is row-identical (Bloom has no false
    // negatives; the exact verify join kills false positives) — pinned
    // here so the default flavor can stay the scale one
    val keptExact = Pipeline.cleanCorpus(corpus, eval, "text", "doc_id",
      minQuality = 0.05, maxDupRatio = 0.5, decontamK = 3,
      tokenizer = TextOps.tokensSimple, useBloom = false)
      .select("doc_id").as[Long].collect().toSet
    assert(keptExact == kept, "bloom and exact cascade flavors diverged")
  }

  test("removalAudit: one verdict per doc, first tier wins, kept set " +
    "equals cleanCorpus survivors") {
    import graft.text.Pipeline
    val corpus = Seq(
      // quality casualty: no stopwords, 3 tokens
      (0L, "alpha beta gamma"),
      // exact-dup pair: 2 loses to min id 1 at the exact tier
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away"),
      // near-dup of 1 (one appended word, shingle jaccard ~0.92):
      // survives the exact tier, loses the cluster to rep 1
      (5L, "the quick brown fox jumps over the lazy dog and runs far " +
        "away tonight"),
      // clean survivor
      (3L, "it is a truth of spark that partitions shape the cost of it all"),
      // contaminated: shares a 3-gram with the eval doc
      (4L, "the secret eval answer is hidden in this training document for sure"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "the secret eval answer leaked"))
      .toDF("doc_id", "text")
    def run(bloom: Boolean) = Pipeline.removalAudit(
      corpus, eval, "text", "doc_id",
      minQuality = 0.05, maxDupRatio = 0.5, decontamK = 3,
      tokenizer = TextOps.tokensSimple, useBloom = bloom)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val audit = run(bloom = true)
    assert(audit == Map(
      0L -> "quality", 1L -> "kept", 2L -> "exact", 5L -> "near_dup",
      3L -> "kept", 4L -> "contaminated"))
    assert(run(bloom = false) == audit, "bloom flavor diverged")
    // the audit's kept set IS cleanCorpus's survivor set
    val kept = Pipeline.cleanCorpus(corpus, eval, "text", "doc_id",
      minQuality = 0.05, maxDupRatio = 0.5, decontamK = 3,
      tokenizer = TextOps.tokensSimple)
      .select("doc_id").as[Long].collect().toSet
    assert(audit.filter(_._2 == "kept").keySet == kept)
  }

  test("packShards assembles shard texts in doc-id order with counts") {
    import graft.operators.Relational
    // budget 5: class a fills shard 0 with ids 1,2 (2+3 tokens), id 3
    // starts at cum=5 → shard 1
    val d = Seq(
      ("a", 1L, "one two"),
      ("a", 2L, "three four five"),
      ("a", 3L, "six seven"),
      ("b", 9L, "lone doc"))
      .toDF("lang", "doc_id", "text")
    val shards = Relational.tokenShards(
      d.select(col("lang"), col("doc_id"),
        size(TextOps.tokensSimple(col("text"))).as("n_tokens")),
      "lang", "doc_id", "n_tokens", budget = 5L)
    val packed = Relational.packShards(shards, d, "lang", "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getInt(2), r.getLong(3), r.getString(4))).toMap
    assert(packed(("a", 0)) == ((2, 5L, "one two three four five")))
    assert(packed(("a", 1)) == ((1, 2L, "six seven")))
    assert(packed(("b", 0)) == ((1, 2L, "lone doc")))
  }

  test("contaminationReport counts shared docs/grams; clean evals get 0/0") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),   // shares "alpha beta gamma" + tail
      (2L, "alpha beta gamma epsilon"), // shares "alpha beta gamma"
      (3L, "totally unrelated content here"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma delta zeta"), // hit by docs 1 and 2
      (101L, "nothing matches this sentence fragment"))
      .toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(train, eval, "text", "doc_id",
      k = 3, tokenizer = TextOps.tokensSimple)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // eval 100 grams: {abg, bgd, gdz}; doc 1 shares abg+bgd, doc 2 abg
    assert(rep(100L) == ((2L, 2L)))
    assert(rep(101L) == ((0L, 0L)))
  }

  test("oovStats: counts and rate against a loaded vocab") {
    val vocab = Seq("the", "quick", "fox")
    val got = Seq((1L, "the quick brown fox runs"), (2L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.oovStats(
        TextOps.tokensSimple(col("text")), vocab).as("o"))
      .select(col("doc_id"), col("o.n_tokens"), col("o.n_oov"),
        col("o.oov_rate"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(got(1L) == ((5, 2, 0.4)))   // brown, runs are OOV
    assert(got(2L) == ((1, 1, 1.0)))   // split("") → [""], which is OOV
    // loadVocab roundtrip
    val loaded = TextOps.loadVocab(vocab.toDF("token"))
    assert(loaded.toSet == vocab.toSet)
  }

  test("packShardsWithOffsets: ids in pack order, exclusive token " +
    "offsets, packed text matches packShards") {
    import graft.operators.Relational
    val d = Seq(
      ("a", 1L, "one two"),        // 2 tokens → offset 0
      ("a", 2L, "three four five"), // 3 tokens → offset 2
      ("a", 3L, "six seven"),       // budget 5 → shard 1, offset 0
      ("b", 9L, "lone doc"))
      .toDF("lang", "doc_id", "text")
      .withColumn("n_tokens", size(TextOps.tokensSimple(col("text"))))
    val shards = Relational.tokenShards(
      d.select("lang", "doc_id", "n_tokens"),
      "lang", "doc_id", "n_tokens", budget = 5L)
    val got = Relational.packShardsWithOffsets(shards, d, "lang",
      "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getAs[scala.collection.Seq[Long]]("doc_ids").toSeq,
          r.getAs[scala.collection.Seq[Long]]("doc_offsets").toSeq,
          r.getAs[String]("packed_text"))).toMap
    assert(got(("a", 0)) ==
      ((Seq(1L, 2L), Seq(0L, 2L), "one two three four five")))
    assert(got(("a", 1)) == ((Seq(3L), Seq(0L), "six seven")))
    assert(got(("b", 0)) == ((Seq(9L), Seq(0L), "lone doc")))
    // round trip: unpack(pack(x)) restores every (class, shard, id) and
    // the in-example offsets match the shard-local prefix sums
    val unpacked = Relational.unpackShards(
      Relational.packShardsWithOffsets(shards, d, "lang", "doc_id",
        "text"), "lang", "doc_id")
      .collect().map(r =>
        (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(unpacked == Set(
      ("a", 0, 1L, 0L), ("a", 0, 2L, 2L),
      ("a", 1, 3L, 0L), ("b", 0, 9L, 0L)))
  }

  test("packShards property: concatenating shards in shard order " +
    "reproduces the class's full id-ordered text") {
    import graft.operators.Relational
    val d = (0 until 60).map(i =>
      (s"c${i % 3}", i.toLong, s"tok${i}a tok${i}b tok${i}c"))
      .toDF("lang", "doc_id", "text")
    val shards = Relational.tokenShards(
      d.select(col("lang"), col("doc_id"),
        size(TextOps.tokensSimple(col("text"))).as("n_tokens")),
      "lang", "doc_id", "n_tokens", budget = 7L)
    val packed = Relational.packShards(shards, d, "lang", "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(4)))
    val reassembled = packed.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3).mkString(" ")).toMap
    val expected = d.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(
        _.sortBy(_._2).map(_._3).mkString(" ")).toMap
    assert(reassembled == expected)
  }

  test("estJaccard kernel is value-identical to the HOF formulation " +
    "(incl. ragged and null-lane signatures)") {
    val rnd = new scala.util.Random(7)
    // lengths ≥ 1: both formulations divide by size(sigA), and real
    // signatures are never empty (minhashSig coalesces empties to P)
    val cases: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] =
      (0 until 200).map { _ =>
        def sig(n: Int) = Seq.tabulate[java.lang.Long](n)(i =>
          if (rnd.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(4).toLong))
        (sig(1 + rnd.nextInt(5)), sig(1 + rnd.nextInt(5)))
      }
    val df = cases.toDF("a", "b")
    val diff = df.select(
      Dedup.estJaccard(col("a"), col("b")).as("k"),
      Dedup.estJaccardHof(col("a"), col("b")).as("h"))
      .filter(!(col("k") <=> col("h")))
    assert(diff.isEmpty, diff.collect().mkString(", "))
    // SQL registration
    assert(spark.sql(
      "SELECT graft_sig_agree(array(1L, 2L, 3L), array(1L, 9L, 3L))")
      .head().getInt(0) == 2)
    // literal NULL signature ARRAY: kernel yields NULL (no signature,
    // no estimate); under ANSI size(null)=null the HOF agrees — the
    // legacy-sizeOfNull 1.0 divergence documented on estJaccard is not
    // live in this engine's defaults
    val nullSig = Seq((Option.empty[Seq[Long]], Some(Seq(1L, 2L))))
      .toDF("a", "b")
      .select(Dedup.estJaccard(col("a"), col("b")).as("k"),
        Dedup.estJaccardHof(col("a"), col("b")).as("h")).head()
    assert(nullSig.isNullAt(0) && nullSig.isNullAt(1))
  }

  test("repetition and jaccard kernels are value-identical to the HOF " +
    "formulations (random shingle multisets incl. nulls and empties)") {
    val rnd = new scala.util.Random(11)
    def arr() = Seq.tabulate[String](rnd.nextInt(12))(_ =>
      if (rnd.nextInt(12) == 0) null else s"g${rnd.nextInt(5)}")
    val cases = (0 until 300).map(_ => (arr(), arr())) :+
      ((Seq.empty[String], Seq.empty[String]))
    val df = cases.toDF("a", "b")
    val repDiff = df.select(
      TextOps.repetition(col("a")).as("k"),
      TextOps.repetitionHof(col("a")).as("h"))
      .filter(!(col("k") <=> col("h")))
    assert(repDiff.isEmpty, repDiff.collect().mkString(", "))
    val jacDiff = df.select(
      Dedup.jaccard(col("a"), col("b")).as("k"),
      Dedup.jaccardHof(col("a"), col("b")).as("h"))
      .filter(!(col("k") <=> col("h")))
    assert(jacDiff.isEmpty, jacDiff.collect().mkString(", "))
    // SQL registrations
    assert(spark.sql("SELECT graft_rep_stats(array('x','x','y')).max_count")
      .head().getInt(0) == 2)
    assert(spark.sql(
      "SELECT graft_jaccard(array('x','y'), array('y','z'))")
      .head().getDouble(0) == 1.0 / 3.0)
    // null ARRAY input: kernels yield NULL (the documented deliberate
    // divergence from the HOF flavors' legacy size(null) artifacts)
    val nullArr = Seq((Option.empty[Seq[String]], Some(Seq("x"))))
      .toDF("a", "b")
    val nulls = nullArr.select(
      TextOps.repetition(col("a")).as("r"),
      Dedup.jaccard(col("a"), col("b")).as("j")).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("hashFeatures: unsigned vectors sum to the token count, empty " +
    "docs are the zero vector, duplicates add, runs are deterministic") {
    val df = Seq(
      (1L, Seq("x", "x", "y", "z")),
      (2L, Seq.empty[String])).toDF("id", "toks")
    def vecs(signed: Boolean) = df.select(col("id"),
      TextOps.hashFeatures(col("toks"), 16, signed).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val u = vecs(signed = false)
    assert(u(1L).length == 16 && u(1L).sum == 4L, u(1L))
    assert(u(1L).max == 2L || u(1L).max == 3L || u(1L).max == 4L)
    assert(u(2L).forall(_ == 0L))
    val s = vecs(signed = true)
    // the signed vector never exceeds the unsigned magnitude per dim
    u(1L).zip(s(1L)).foreach { case (uu, ss) =>
      assert(math.abs(ss) <= uu, s"$ss vs $uu") }
    assert(vecs(signed = true) == vecs(signed = true)) // deterministic
  }

  test("tokenQuotaSample: ~budget tokens per class in seeded-random " +
    "order; two-level prefix sum matches a single-window reference " +
    "on a 90%-skew class") {
    import graft.operators.Relational
    import org.apache.spark.sql.expressions.Window
    // 90% of docs in class "big" — the whale shape
    val d = (0 until 200).map(i =>
      (if (i % 10 == 0) "small" else "big", i.toLong, 5 + i % 7))
      .toDF("lang", "doc_id", "n_tokens")
    val got = Relational.tokenQuotaSample(d, "lang", "doc_id", "n_tokens",
      budget = 100L, seed = 17L)
    // single-window reference formulation
    val h = Relational.md5Rank(Seq(col("doc_id")), 17L)
    val w = Window.partitionBy(col("lang")).orderBy(col("_h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = d.withColumn("_h", h)
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < 100L)
      .select("lang", "doc_id", "n_tokens", "cum_before")
    val refSet = ref.collect().toSet.map((r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.collect().toSet.map((r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))) == refSet)
    // selection is hash-prefix-length-INVARIANT: the level-1 bucket key
    // is a prefix of the sort key, so any length (1 hex char = 16
    // buckets ... 6 = 16M) reassembles the same global prefix sums —
    // the skew knob needs no oracle coordination
    for (len <- Seq(1, 2, 6)) {
      val v = Relational.tokenQuotaSample(d, "lang", "doc_id", "n_tokens",
        budget = 100L, seed = 17L, hashPrefixLen = len)
        .collect().toSet.map((r: org.apache.spark.sql.Row) =>
          (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      assert(v == refSet, s"hashPrefixLen=$len changed the selection")
    }
    // each class lands near its budget: ≥ budget-ish and bounded by
    // budget + one max doc
    val byClass = got.groupBy("lang").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byClass.values.forall(t => t >= 100L && t <= 100L + 11L),
      s"per-class token totals off: $byClass")
  }

  test("dedupLines: boilerplate spans drop everywhere, short spans are " +
    "exempt, order-preserving reassembly, null/all-hot docs survive") {
    // "FOOTER TEXT" appears in 3 docs (> maxDocs=2) → dropped from all;
    // "unique line N" stays; the 2-char "ab" line repeats everywhere
    // but is below minChars=3 → exempt
    val d = Seq(
      (1L, "unique line one\nFOOTER TEXT\nab"),
      (2L, "unique line two\nFOOTER TEXT\nab"),
      (3L, "FOOTER TEXT\nunique line three\nab"),
      (4L, "FOOTER TEXT"), // all lines hot → empty, not null
      (5L, null.asInstanceOf[String])) // null text survives as 0/0/null
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(d, "text", "doc_id",
      delimiter = "\n", maxDocs = 2, minChars = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(got(1L) == ((3L, 2L, "unique line one\nab")))
    assert(got(2L) == ((3L, 2L, "unique line two\nab")))
    assert(got(3L) == ((3L, 2L, "unique line three\nab"))) // order kept
    assert(got(4L) == ((1L, 0L, "")))
    assert(got(5L) == ((0L, 0L, null)))
    // nothing hot → byte-identical round-trip (split/join lossless)
    val clean = Seq((9L, "alpha beta\n\ngamma")).toDF("doc_id", "text")
    val back = Dedup.dedupLines(clean, "text", "doc_id").head()
    assert(back.getString(3) == "alpha beta\n\ngamma")
    assert(back.getLong(1) == 3L) // the empty middle line counts
    // fit/apply split: a parquet-roundtripped hot table rewrites a NEW
    // drop the inline path never saw (counts came from the old corpus)
    val hotPath = tmpDir("hotlines") + "/hot"
    Dedup.hotLines(d, "text", "doc_id", "\n", maxDocs = 2, minChars = 3)
      .write.mode("overwrite").parquet(hotPath)
    val drop = Seq((100L, "fresh content\nFOOTER TEXT\nmore fresh"))
      .toDF("doc_id", "text")
    val applied = Dedup.dedupLinesAgainst(drop,
      spark.read.parquet(hotPath), "text", "doc_id").head()
    assert(applied.getString(3) == "fresh content\nmore fresh")
    assert(applied.getLong(1) == 3L && applied.getLong(2) == 2L)
  }

  test("temperatureSample: alpha flattens the mixture, selection is " +
    "prefix-length-invariant and matches a single-window reference") {
    import graft.operators.Relational
    import org.apache.spark.sql.expressions.Window
    // head class 160 docs, tail 40 — alpha=0.5 gives the tail MORE
    // than its 20% proportional share
    val d = (0 until 200).map(i =>
      (if (i < 160) "head" else "tail", i.toLong)).toDF("lang", "doc_id")
    val got = Relational.temperatureSample(d, "lang", "doc_id",
      alpha = 0.5, budgetDocs = 100L, seed = 23L)
    val byClass = got.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // √160 : √40 = 2 : 1 → quotas 66 / 33
    assert(byClass == Map("head" -> 66L, "tail" -> 33L), s"$byClass")
    // single-window reference (same quota arithmetic, plain row_number)
    val wRef = Window.partitionBy(col("lang"))
      .orderBy(col("_h"), col("doc_id"))
    val ref = d.withColumn("_h",
        Relational.md5Rank(Seq(col("doc_id")), 23L))
      .withColumn("pos", row_number().over(wRef).cast("long") - 1L)
      .filter((col("lang") === "head" && col("pos") < 66) ||
        (col("lang") === "tail" && col("pos") < 33))
      .select("lang", "doc_id", "pos")
    val refSet = ref.collect().toSet
      .map((r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getLong(1), r.getLong(2)))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
      .map((r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(asSet(got) == refSet)
    for (len <- Seq(1, 6))
      assert(asSet(Relational.temperatureSample(d, "lang", "doc_id",
        alpha = 0.5, budgetDocs = 100L, seed = 23L,
        hashPrefixLen = len)) == refSet,
        s"hashPrefixLen=$len changed the selection")
    // alpha = 1 is proportional (80/20 of the budget)
    val prop = Relational.temperatureSample(d, "lang", "doc_id",
      alpha = 1.0, budgetDocs = 100L, seed = 23L)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prop == Map("head" -> 80L, "tail" -> 20L), s"$prop")
    // token-budget flavor: per-class token sums respect the sqrt-quota
    // fill rule — ≥ quota-ish (first-crossing) and ≤ quota + max doc
    val dt = d.withColumn("n_tokens", lit(5) + (col("doc_id") % 7))
    val tok = Relational.temperatureTokenSample(dt, "lang", "doc_id",
      "n_tokens", alpha = 0.5, budgetTokens = 400L, seed = 23L)
    // quotas: head T=1277, tail T=322 → √ ratio ≈ 0.666/0.334 of 400
    val sums = tok.groupBy("lang").agg(sum("n_tokens").as("t"),
        max("cum_before").as("mc")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    sums.foreach { case (lang, (t, _)) =>
      assert(t >= 100 && t <= 300, s"$lang token sum $t out of band")
    }
    // every selected doc started under its class quota (max cum_before
    // < quota) and totals stay within one max-doc of the quota
    val total = sums.values.map(_._1).sum
    assert(total >= 400 - 22 && total <= 400 + 22, s"total=$total")
  }

  test("compressionRatio: repetitive text compresses far below varied " +
    "text; empty is 0; null propagates; SQL-registered") {
    val rows = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over a lazy dog while autumn " +
        "leaves drift across the quiet river valley"),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = rows.select(col("doc_id"),
      TextOps.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    assert(got(1L) > 0.0 && got(2L) > 0.0 && got(2L) <= 2.0)
    assert(got(1L) < got(2L) - 0.2,
      s"repetitive ${got(1L)} not clearly below varied ${got(2L)}")
    assert(got(3L) == 0.0)
    assert(got(4L).isNaN) // null text → null ratio
    // deterministic within the engine (thread-local deflater reuse)
    val again = rows.filter(col("doc_id") === 1L)
      .select(TextOps.compressionRatio(col("text"))).head().getDouble(0)
    assert(again == got(1L))
    // SQL registration
    assert(spark.sql("SELECT graft_deflate_ratio('aaaaaaaaaaaaaaaaaaaa')")
      .head().getDouble(0) > 0.0)
  }

  test("nearDupPairsBetween pairs only ACROSS the two corpora; ids may " +
    "repeat across inputs") {
    val left = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away"),
      (2L, "an unrelated left document about spark internals today"),
      // within-LEFT near-dups of each other — must NOT pair
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val right = Seq(
      // near-dup of left 1 — and the SAME id as a left doc (allowed)
      (2L, "the quick brown fox jumps over the lazy dog and runs home"),
      (9L, "completely different right-side content with fresh words"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairsBetween(left, right, "text", "doc_id",
      threshold = 0.5, tokenizer = TextOps.tokensSimple)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"pairs: $pairs")
  }

  test("dedupSpansInDoc keeps first occurrences in order; cross-doc " +
    "repeats untouched; null text stays null") {
    val d = Seq(
      (1L, "nav block\ncontent one\nnav block\ncontent two\nnav block"),
      (2L, "nav block\nother content"), // cross-doc repeat NOT removed
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
      TextOps.dedupSpansInDoc(col("text"), "\n").as("t"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got(1L) == "nav block\ncontent one\ncontent two")
    assert(got(2L) == "nav block\nother content")
    assert(got(3L) == null)
  }

  test("normalized dedup collapses case/punct/whitespace mutations " +
    "raw exact dedup keeps apart") {
    val d = Seq(
      (1L, "The quick brown fox!"),
      (2L, "the  quick   brown fox"),  // ws runs + case
      (3L, "THE QUICK, BROWN... FOX"), // punct + case
      (4L, "a different document"))
      .toDF("doc_id", "text")
    assert(Dedup.exact(d, "text", "doc_id").count() == 4) // raw: no dups
    val norm = Dedup.exactNormalized(d, "text", "doc_id")
    assert(norm.count() == 2)
    val grp = norm.filter(col("n_dups") === 3).head()
    assert(grp.getAs[Long]("doc_id") == 1L) // min-id survivor
    val kept = Dedup.dedupExactNormalized(d, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
    // the key itself: canonical form of all three mutations is equal
    val keys = d.filter(col("doc_id") =!= 4L)
      .select(TextOps.normalizeText(col("text"))).distinct().collect()
    assert(keys.length == 1 &&
      keys.head.getString(0) == "the quick brown fox")
  }

  test("exact dedup: survivor is min id, duplicate counted") {
    val d = Dedup.exact(docs, "text", "doc_id")
    assert(d.count() == 4) // 5 docs, one exact pair
    val dupRow = d.filter(col("n_dups") === 2).head()
    assert(dupRow.getAs[Long]("doc_id") == 0L) // min survivor
  }

  test("minhash: identical docs → identical signatures; est jaccard sane") {
    val sig = docs.select(col("doc_id"), TextOps.minhashSig(
      TextOps.shingles(TextOps.tokensSimple(col("text")), 3), 32).as("sig"))
    val m = sig.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("sig").toSeq).toMap
    assert(m(0L) == m(1L))                 // exact dup → same signature
    assert(m(0L) != m(3L))                 // different docs differ
    assert(m(0L).forall(v => v >= 0 && v <= TextOps.P))
    val est = sig.as("a").join(sig.as("b"),
      col("a.doc_id") === 0L && col("b.doc_id") === 2L)
      .select(Dedup.estJaccard(col("a.sig"), col("b.sig")).as("j"))
      .head().getDouble(0)
    assert(est > 0.2 && est <= 1.0)        // near dup shares many positions
  }

  test("LSH pipeline finds the exact and near dup, not the unrelated doc") {
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("clusterSizeHistogram rolls clusters into (size, count) rows") {
    val ids = (1L to 7L).toDF("id")
    // {1,2,3} one cluster, {4,5} one, 6 and 7 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val hist = Dedup.clusterSizeHistogram(Dedup.clusterLabels(ids, pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(3L -> 1L, 2L -> 1L, 1L -> 2L))
  }

  test("clusterLabels: transitive closure with min labels, singletons kept") {
    val ids = (1L to 9L).toDF("id")
    // chain 1-2-3, pair 5-6, isolated 4/7/8/9
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.clusterLabels(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(5L) == 5L && labels(6L) == 5L)
    assert(Seq(4L, 7L, 8L, 9L).forall(i => labels(i) == i))
    // a longer chain still converges (diameter > 2)
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val l2 = Dedup.clusterLabels(ids, chain)
      .collect().map(r => r.getLong(1)).toSet
    assert(l2 == Set(1L))
  }

  test("exact jaccard over token sets") {
    val j = docs.as("a").join(docs.as("b"),
      col("a.doc_id") === 0L && col("b.doc_id") === 2L)
      .select(Dedup.jaccard(
        TextOps.tokensSimple(col("a.text")),
        TextOps.tokensSimple(col("b.text"))).as("j"))
      .head().getDouble(0)
    assert(j == 7.0 / 9.0) // 8-word sets sharing 7 words
  }

  test("exact jaccard of two empty sets is 0.0, not a division error") {
    val j = Seq(("", ""))
      .toDF("a", "b")
      .select(Dedup.jaccard(
        TextOps.shingles(TextOps.tokensSimple(col("a")), 3),
        TextOps.shingles(TextOps.tokensSimple(col("b")), 3)).as("j"))
      .head().getDouble(0)
    assert(j == 0.0)
  }

  test("chunkTokens: overlap windows, short-doc single chunk, short tail") {
    val chunks = Seq((1L, "a b c d e f g h i j"), (2L, "x y"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), explode(TextOps.chunkTokens(
        TextOps.tokensSimple(col("text")), size = 4, overlap = 1)).as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.chunk_text"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    // stride 3: [a b c d] [d e f g] [g h i j]
    assert(chunks((1L, 0)) == "a b c d")
    assert(chunks((1L, 1)) == "d e f g")
    assert(chunks((1L, 2)) == "g h i j")
    assert(chunks((2L, 0)) == "x y") // short doc → one short chunk
    assert(chunks.size == 4)
  }

  test("chunkTokens property: every token covered, chunk size bounded") {
    for (n <- Seq(1, 5, 9, 40); overlap <- Seq(0, 3)) {
      val size = 4
      val words = (1 to n).map(i => s"w$i")
      val chunks = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
        .select(explode(TextOps.chunkTokens(
          TextOps.tokensSimple(col("text")), size, overlap)).as("c"))
        .select(col("c.chunk_id"), col("c.chunk_text"))
        .collect().sortBy(_.getInt(0)).map(_.getString(1).split(" ").toSeq)
      val covered = chunks.flatten.toSet
      assert(words.toSet == covered, s"n=$n overlap=$overlap coverage")
      assert(chunks.forall(_.size <= size))
      // consecutive full chunks share exactly `overlap` tokens
      chunks.toSeq.sliding(2).foreach {
        case Seq(a, b) if a.size == size =>
          assert(a.takeRight(overlap) == b.take(overlap))
        case _ =>
      }
    }
  }

  test("stratifiedSample: exact n per class, deterministic across runs") {
    val df = (0L until 100L).map(i => (s"c${i % 3}", i)).toDF("cls", "id")
    def run() = graft.operators.Relational
      .stratifiedSample(df.repartition(7), "cls", "id", n = 5, seed = 1)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val s1 = run()
    assert(s1.size == 15) // 5 per class, 3 classes
    assert(s1.groupBy(_._1).forall(_._2.size == 5))
    assert(run() == s1) // partitioning-independent
  }

  test("tokenShards: budget boundaries split on exclusive prefix sums") {
    val df = Seq(("en", 1L, 60), ("en", 2L, 60), ("en", 3L, 60),
      ("de", 4L, 250))
      .toDF("lang", "doc_id", "n_tokens")
    val shards = graft.operators.Relational
      .tokenShards(df, "lang", "doc_id", "n_tokens", budget = 100L)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    // en prefix sums (exclusive): 0, 60, 120 → shards 0, 0, 1
    assert(shards == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 0))
  }

  test("tokenShards: two-level prefix sum matches the single-window " +
    "formulation on a 90%-skew class") {
    import org.apache.spark.sql.expressions.Window
    // 90% of docs in one class, sparse non-contiguous ids, varying sizes
    val rows = (0 until 400).map { i =>
      val cls = if (i % 10 == 9) "rare" else "hot"
      (cls, i.toLong * 3 + 1, 10 + i % 37)
    }
    val df = rows.toDF("lang", "doc_id", "n_tokens").repartition(7)
    // the single-window reference formulation tokenShards replaced
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = df
      .withColumn("_cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("shard", expr("_cum div 100L").cast("int"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard"))
      .toMap
    // bucketWidth 64 → the hot class spans ~19 sub-windows
    val got = graft.operators.Relational
      .tokenShards(df, "lang", "doc_id", "n_tokens", budget = 100L,
        bucketWidth = 64L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard"))
      .toMap
    assert(got == ref)
  }

  test("tokenShards: null class is a partition, not a dropped row") {
    // a null class (unknown language) is a valid window partition in the
    // single-window semantics — the two-level join must not lose it
    val df = Seq(
      (Some("en"), 1L, 60), (Some("en"), 2L, 60),
      (None, 3L, 70), (None, 4L, 70))
      .map { case (c, i, n) => (c.orNull, i, n) }
      .toDF("lang", "doc_id", "n_tokens")
    val out = graft.operators.Relational
      .tokenShards(df, "lang", "doc_id", "n_tokens", budget = 100L,
        bucketWidth = 64L)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    // null class: exclusive prefixes 0, 70 → shards 0, 0
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0))
    assert(out.size == 4) // nothing dropped
  }

  test("clusterLabels converges on a long chain within default maxIter") {
    // diameter-59 path graph: naive min-label propagation needs 59
    // rounds; pointer jumping must close it inside the default 20
    val ids = (0L until 60L).map(Tuple1(_)).toDF("id")
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.clusterLabels(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(0L)) // one component, min label 0
  }

  test("dedupExact and dedupNear keep one survivor per duplicate group") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base),                          // cluster {1, 2, 3}: 2 is an
      (2L, base),                          //   exact dup, 3 a near dup
      (3L, base + " lambda"),
      (4L, "completely different words entirely here now today ok fine"))
      .toDF("doc_id", "text")
    val exactKept = Dedup.dedupExact(corpus, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactKept == Set(1L, 3L, 4L)) // only the exact dup dropped
    val nearKept = Dedup.dedupNear(corpus, "text", "doc_id",
      threshold = 0.5, tokenizer = TextOps.tokensSimple)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nearKept == Set(1L, 4L)) // whole near-cluster collapses to 1
  }

  test("signed index: persisted roundtrip feeds pairs/dedup without " +
    "re-signing, batch equi-join flavor matches broadcast flavor") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base), (2L, base), (3L, base + " lambda"),
      (4L, "completely different words entirely here now today ok fine"))
      .toDF("doc_id", "text")
    val path = tmpDir("signedidx") + "/idx"
    Dedup.writeSignedIndex(corpus, path, "text", "doc_id",
      tokenizer = TextOps.tokensSimple)
    val idx = Dedup.readSignedIndex(spark, path)
    // the index holds (id, sig, buckets) ONLY — a consumer cannot
    // re-shingle even by accident, the text never leaves the writer
    assert(idx.columns.toSeq == Seq("doc_id", "sig", "buckets"))
    def pairSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromIndex = pairSet(
      Dedup.nearDupPairsFromIndex(idx, "doc_id", threshold = 0.5))
    val direct = pairSet(Dedup.nearDupPairs(corpus, "text", "doc_id",
      threshold = 0.5, tokenizer = TextOps.tokensSimple))
    assert(fromIndex == direct && fromIndex.nonEmpty)
    val keptIdx = Dedup.dedupNearFromIndex(corpus, idx, "doc_id",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIdx == Set(1L, 4L)) // same as dedupNear's survivor set
    // batch flavor: pure equi-join on the exploded bucket id — verify it
    // keeps the same rows as the broadcast flavor with broadcast OFF
    val newDocs = Seq(
      (10L, base + " mu"), // near-dups the indexed cluster
      (11L, "fresh unrelated streaming payload with novel vocabulary"))
      .toDF("doc_id", "text")
    val bcastKept = Dedup.dedupNearAgainstIndex(newDocs, idx,
      "text", "doc_id", threshold = 0.5, tokenizer = TextOps.tokensSimple)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val eqKept = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Dedup.dedupNearAgainstIndexBatch(newDocs, idx, "text", "doc_id",
        threshold = 0.5, tokenizer = TextOps.tokensSimple)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(bcastKept == Set(11L) && eqKept == Set(11L))
  }

  test("decontaminate drops only docs sharing a k-gram with the eval set") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),   // shares "quick brown fox"
      (2L, "a wholly different sentence"), // clean
      (3L, "short"))                       // < k tokens → no grams → kept
      .toDF("doc_id", "text")
    val eval = Seq((100L, "so quick brown fox indeed")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, eval, "text", "doc_id", k = 3,
      tokenizer = TextOps.tokensSimple)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("repetition: dup-ratio and max-count on known n-gram multisets") {
    val r = Seq(
      (1L, "a b c a b c a b c"), // 3-grams: 7 total, 3 distinct
      (2L, "x y"))               // shorter than k → zero 3-grams
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.repetition(TextOps.shingles(
        TextOps.tokensSimple(col("text")), 3)).as("r"))
      .select(col("doc_id"), col("r.n_grams"), col("r.n_distinct"),
        col("r.dup_ratio"), col("r.max_count"))
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getInt(2), x.getDouble(3), x.getInt(4))).toMap
    assert(r(1L) == ((7, 3, 0.571429, 3))) // "a b c" repeats 3×
    assert(r(2L) == ((0, 0, 0.0, 0)))
  }

  test("fingerprint is order-sensitive; simhash is not (for permutations)") {
    val f = Seq((0L, "a b c"), (1L, "c b a"), (2L, "a b c"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextOps.fingerprint(TextOps.tokensSimple(col("text"))).as("fp"),
        TextOps.simhash(TextOps.tokensSimple(col("text")), 16).as("sh"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(f(0L)._1 == f(2L)._1 && f(0L)._1 != f(1L)._1) // rolling hash
    assert(f(0L)._2 == f(1L)._2)                          // bag-of-words
  }

  test("BPE-ish tokenizer splits letter/digit runs and punctuation") {
    val toks = Seq((0L, "don't stop, v2!")).toDF("doc_id", "text")
      .select(TextOps.tokensBpeish(col("text")).as("t"),
        TextOps.tokenEstimate(col("text")).as("n"))
      .head()
    assert(toks.getAs[scala.collection.Seq[String]]("t").toSeq ==
      Seq("don", "'", "t", "stop", ",", "v", "2", "!"))
    assert(toks.getAs[Int]("n") == 8)
  }

  test("langId picks marker-dominant language; quality in [0,1]") {
    val out = docs.select(col("doc_id"),
      TextOps.langId(TextOps.tokensSimple(col("text"))).as("lang"),
      TextOps.qualityScore(TextOps.tokensSimple(col("text"))).as("q"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    assert(out(0L)._1 == "en")
    assert(out(4L)._1 == "de")
    assert(out.values.forall { case (_, q) => q >= 0.0 && q <= 1.0 })
  }

  test("tfidf: known corpus arithmetic (tf · (N+1)/(df+1))") {
    val corpus = Seq(
      (1L, "a a b"), (2L, "a c"), (3L, "b b b")).toDF("doc_id", "text")
    val out = TextOps.tfidf(corpus, "text", "doc_id",
      TextOps.tokensSimple)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    // N = 3; df: a→2, b→2, c→1
    assert(out((1L, "a")) == ((2L, 2L, 2.666667))) // 2·4/3
    assert(out((1L, "b")) == ((1L, 2L, 1.333333)))
    assert(out((2L, "c")) == ((1L, 1L, 2.0))) // 1·4/2
    assert(out((3L, "b")) == ((3L, 2L, 4.0))) // 3·4/3
    assert(out.size == 5) // (1,a),(1,b),(2,a),(2,c),(3,b)
  }

  test("prioritySample: deterministic, exact n, degenerate n > rows") {
    val df = Seq((1L, 10.0), (2L, 1.0), (3L, 1000.0), (4L, 5.0))
      .toDF("id", "w")
    def run() = graft.operators.Relational
      .prioritySample(df, "id", col("w"), n = 2, seed = 42)
      .select("id").collect().map(_.getLong(0)).toSeq
    val a = run()
    assert(a == run() && a.size == 2) // deterministic under re-run
    // heaviest weight dominates any u in (0,1]: w=1000 vs max 10 means
    // priority(3) >= 1000 > 10/u_min is not guaranteed... but with
    // u in (0,1], priority(3) >= 1000 and priority(1) <= 10/u_1; the
    // md5-derived u are all > 2e-3 here, so id 3 must be selected
    assert(a.contains(3L))
    val all = graft.operators.Relational
      .prioritySample(df, "id", col("w"), n = 10, seed = 42)
    assert(all.count() == 4) // degenerate: fewer rows than n
  }

  test("stratified priority sample: per-class n, deterministic") {
    val df = (for { c <- Seq("a", "b"); i <- 0 until 30 }
      yield (c, c.hashCode.toLong * 100 + i, (i % 10 + 1).toDouble))
      .toDF("cls", "id", "w")
    def run() = graft.operators.Relational
      .stratifiedPrioritySample(df, "cls", "id", col("w"), n = 5, seed = 3L)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val a = run()
    assert(a.toSeq == run().toSeq) // deterministic
    assert(a.count(_._1 == "a") == 5 && a.count(_._1 == "b") == 5)
    assert(a.filter(_._1 == "a").map(_._2).sorted.toSeq == (0 until 5))
    // a null weight must never displace a real selection: null priority
    // would sort FIRST in the rank fold (while the oracle's row_number
    // ranks nulls last) — such rows are dropped before ranking
    val withNull = df.union(spark.range(1)
      .select(lit("a").as("cls"), lit(999999L).as("id"),
        lit(null).cast("double").as("w")))
    val b = graft.operators.Relational
      .stratifiedPrioritySample(withNull, "cls", "id", col("w"),
        n = 5, seed = 3L)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(b.toSeq == a.toSeq)
  }

  test("new text ops tolerate empty corpora and null text") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.tfidf(empty, "text", "doc_id").count() == 0)
    assert(graft.operators.Relational
      .prioritySample(empty, "doc_id", lit(1.0), n = 5, seed = 1L)
      .count() == 0)
    // null text: tokenizers yield null arrays; explode drops the row,
    // redact passes the null through
    val withNull = Seq((1L, null: String), (2L, "a b")).toDF("doc_id", "text")
    val t = TextOps.tfidf(withNull, "text", "doc_id", TextOps.tokensSimple)
      .collect()
    // doc 2's two terms survive; the null-text doc contributes none
    assert(t.length == 2)
    assert(t.forall(_.getLong(0) == 2L))
    val red = withNull.select(col("doc_id"),
      TextOps.redactPii(col("text")).as("clean")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == null && red(2L) == "a b")
  }

  test("tokensVocab applies a loaded BPE merge table (GPT-2 greedy ranks)") {
    // committed fixture: ranked merge table, deliberately shuffled rows —
    // the loader must order by rank, not row order
    val mergeDf = Seq((2L, "e", "r"), (0L, "l", "o"), (1L, "lo", "w"))
      .toDF("rank", "left", "right")
    val merges = TextOps.loadBpeMerges(mergeDf)
    assert(merges == Seq("l" -> "o", "lo" -> "w", "e" -> "r"))
    val out = Seq((1L, "lower low"), (2L, "xyz"), (3L, null: String))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextOps.tokensVocab(col("text"), merges).as("toks"),
        TextOps.tokenEstimateVocab(col("text"), merges).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1).toList)).toMap
    // "lower": l o w e r → lo → low → er; no (low, er) merge listed
    assert(out(1L) == List("low", "er", "low"))
    assert(out(2L) == List("x", "y", "z")) // no applicable merges
    assert(out(3L) == null) // null text → null, like every tokenizer here
    // merges.txt-format parser: line order is the rank, comments skipped
    assert(TextOps.parseBpeMerges(Seq("# header", "l o", "lo w", "", "e r"))
      == merges)
  }

  test("langIdProfile classifies by loaded char-n-gram profiles") {
    // committed fixture: tiny Cavnar-Trenkle-shaped (lang, gram, weight)
    // table — the loadable upgrade over the marker-word toy
    val profDf = Seq(
      ("en", "the", 1.0), ("en", "ing", 0.7), ("en", "er ", 0.3),
      ("de", "der", 1.0), ("de", "sch", 0.9), ("de", "ein", 0.6),
      ("fr", "les", 1.0), ("fr", "ait", 0.7))
      .toDF("lang", "gram", "weight")
    val profiles = TextOps.loadLangProfiles(profDf)
    assert(profiles.keySet == Set("en", "de", "fr"))
    assert(profiles("de")("sch") == 0.9)
    val docs = Seq(
      (1L, "the weather is changing"),       // the + ing → en
      (2L, "schneller der einfache wagen"),  // sch + der + ein → de
      (3L, "les traits quil avait"),         // les + ait → fr
      (4L, "zzzz qqqq"))                     // no profile gram → und
      .toDF("doc_id", "text")
    val got = docs
      .select(col("doc_id"),
        TextOps.charGrams(lower(col("text")), 3).as("grams"))
      .select(col("doc_id"),
        TextOps.langIdProfile(col("grams"), profiles).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
    // charGrams edge: shorter than n → empty array, not null
    val short = Seq(Tuple1("ab")).toDF("t")
      .select(TextOps.charGrams(col("t"), 3).as("g")).head()
    assert(short.getSeq[String](0).isEmpty)
  }

  test("redactPii: urls then emails, counts match occurrences") {
    val out = Seq(
      (1L, "mail bob@corp.io or see https://x.io/a?b=1 and http://y.z/c"),
      (2L, "clean text with no pii at all"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(TextOps.urlPattern),
          lit(0))).as("n_urls"),
        size(regexp_extract_all(col("text"), lit(TextOps.emailPattern),
          lit(0))).as("n_emails"),
        TextOps.redactPii(col("text")).as("clean"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((2, 1,
      "mail <EMAIL> or see <URL> and <URL>")))
    assert(out(2L) == ((0, 0, "clean text with no pii at all")))
  }

  test("redactPii: trailing sentence punctuation stays outside the URL") {
    val out = Seq(
      (1L, "see https://x.io/a?b=1. then go"),
      (2L, "(docs at https://y.z/c), or [https://q.r/d];"),
      (3L, "mid https://a.b/p.q/r works"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.redactPii(col("text")).as("clean"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "see <URL>. then go")
    assert(out(2L) == "(docs at <URL>), or [<URL>];")
    assert(out(3L) == "mid <URL> works") // interior dots still swallowed
  }

  test("hammingNearDupPairs equals brute force on random fingerprints " +
    "whenever maxBits < bands (pigeonhole), and rejects maxBits >= bands") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // clustered fingerprints: base values plus 1-2 bit flips so some
    // pairs land within each threshold
    val bases = Seq.fill(6)(rnd.nextLong())
    val fps = (0 until 60).map { i =>
      val base = bases(i % bases.size)
      val flips = rnd.nextInt(3)
      val fp = (0 until flips).foldLeft(base)(
        (v, _) => v ^ (1L << rnd.nextInt(64)))
      (i.toLong, fp)
    }
    val df = fps.toDF("id", "fp")
    for ((bands, maxBits) <- Seq((4, 3), (8, 3), (4, 1), (64, 6))) {
      val got = graft.text.Dedup.hammingNearDupPairs(
        df, "id", "fp", fpBits = 64, bands = bands, maxBits = maxBits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val want = (for {
        (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
        h = java.lang.Long.bitCount(fa ^ fb) if h <= maxBits
      } yield (ia, ib, h)).toSet
      assert(got === want, s"bands=$bands maxBits=$maxBits")
    }
    intercept[IllegalArgumentException] {
      graft.text.Dedup.hammingNearDupPairs(df, "id", "fp",
        bands = 4, maxBits = 4)
    }
  }

  test("sharedSpans: finds the maximal copied span with exact bounds, " +
    "merges diagonal runs, and the hot-gram cap drops boilerplate") {
    import spark.implicits._
    // doc 2 copies tokens 3..9 of doc 1 (7 tokens) at its position 2;
    // doc 3 shares nothing long enough; docs 4..9 all share one
    // boilerplate sentence that the df cap must drop
    val span = "c d e f g h i"
    val boiler = "x1 x2 x3 x4 x5"
    val rows = Seq(
      1L -> s"a b $span j k",
      2L -> s"z $span q r s",
      3L -> "a b c d q w e r t y") ++
      (4L to 9L).map(i => i -> s"u$i v$i $boiler w$i")
    val df = rows.toDF("doc_id", "text")
    val got = graft.text.Dedup.sharedSpans(df, "text", "doc_id",
      k = 3, minLen = 5, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getLong(4))).toSet
    // doc1 tokens: a b c d e f g h i j k -> span starts at 3
    // doc2 tokens: z c d e f g h i q r s -> span starts at 2
    assert(got === Set((1L, 2L, 3, 2, 7L)))
    // with the cap lifted, the boilerplate pairs appear too
    val uncapped = graft.text.Dedup.sharedSpans(df, "text", "doc_id",
      k = 3, minLen = 5, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((4L, 5L)) && uncapped.size === 1 + 15)
  }

  test("clusterSafeSplit: near-dup clusters never straddle splits; " +
    "coverage total; singletons split like hashSplit on their own id") {
    import spark.implicits._
    // 40 near-dup pairs (text i and its lightly-edited twin) + 20
    // singletons; with 3 splits a plain per-doc hash WOULD straddle
    val base = (0 until 40).map { i =>
      val words = Seq.fill(12)(s"w$i token common text body piece")
        .mkString(" ")
      Seq((i * 2).toLong -> words,
        (i * 2 + 1).toLong -> (words + " tail"))
    }.flatten
    val singles = (1000 until 1020).map(i =>
      i.toLong -> s"unique$i totally distinct content $i nothing shared $i")
    val df = (base ++ singles).toDF("doc_id", "text")
    val got = graft.text.Dedup.clusterSafeSplit(df, "text", "doc_id",
      Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2), seed = 5L)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("cluster"), r.getAs[String]("split")))
    assert(got.length === df.count())
    // every cluster maps to exactly one split
    got.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).toSet.size === 1, s"cluster $c straddles")
    }
    // each twin pair shares a cluster (and hence a split)
    val byId = got.map(r => r._1 -> r._2).toMap
    (0 until 40).foreach { i =>
      assert(byId(i * 2L) === byId(i * 2L + 1), s"pair $i split apart")
    }
    assert(got.map(_._3).toSet === Set("train", "val", "test"))
  }

  test("removeSharedSpans: higher id loses the span, lowest id and " +
    "untouched docs pass through verbatim") {
    import spark.implicits._
    val span = "c d e f g h i"
    val df = Seq(
      1L -> s"a b $span j k",
      2L -> s"z $span q r s",
      3L -> "totally unrelated words here").toDF("doc_id", "text")
    val got = graft.text.Dedup.removeSharedSpans(df, "text", "doc_id",
      k = 3, minLen = 5, maxDf = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2))).toMap
    assert(got(1L) === ((s"a b $span j k", 0)))   // keeper untouched
    assert(got(2L) === (("z q r s", 7)))          // span excised
    assert(got(3L) === (("totally unrelated words here", 0)))
  }

  test("learnBpeMerges: frequency argmax with lexicographic ties, " +
    "greedy leftmost overlap merging, and multi-round composition") {
    import spark.implicits._
    // "lo" appears in every word (low lower lowest): (l,o) count 5;
    // round 2 then fuses (lo, w)
    val df = Seq("low low lower lowest low").toDF("text")
    val m = TextOps.learnBpeMerges(df, "text", rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(m(0) == ((1, "l", "o", 5L)))
    assert(m(1) == ((2, "lo", "w", 5L)))
    // round 3: "low" composed; remaining pairs are (low,e)x2,(e,r),(e,s),(s,t)
    assert(m(2) == ((3, "low", "e", 2L)))

    // a == b overlap: "aaaa aaa" — (a,a) counted per occurrence
    // (3 + 2 = 5); greedy leftmost merges "aaaa"→[aa,aa], "aaa"→[aa,a],
    // so round 2 sees (aa,aa) once and (aa,a) once — tie broken
    // lexicographically to (aa, a)
    val m2 = TextOps.learnBpeMerges(
      Seq("aaaa aaa").toDF("text"), "text", rounds = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(m2(0) == ((1, "a", "a", 5L)))
    assert(m2(1) == ((2, "aa", "a", 1L)))

    // exhaustion: single-char words stop early instead of erroring
    val m3 = TextOps.learnBpeMerges(
      Seq("a b a").toDF("text"), "text", rounds = 4).collect()
    assert(m3.isEmpty)
  }

  test("tokensUnigram: Viterbi picks the min-cost segmentation, ties " +
    "break toward the longer piece from the end, unknown chars fall " +
    "back to unk cost") {
    import spark.implicits._
    // "ab" at 1.0 nats beats a+b (3.0) and aba+b (4.3)
    // a/ab/c/bc all at 1.0 nats, b dearer -- "abc" then TIES
    // a+bc = ab+c = 2.0 nats exactly
    val model = Map("ab" -> 1000000L, "a" -> 1000000L,
      "b" -> 1500000L, "aba" -> 2800000L, "c" -> 1000000L,
      "bc" -> 1000000L, "x" -> 1000000L)
    def pieces(text: String): Seq[String] =
      TextOps.tokensUnigram(Seq(text).toDF("text"), "text", "p", model)
        .head().getSeq[String](1).toSeq
    assert(pieces("abab") == Seq("ab", "ab"))
    // exact tie a+bc = ab+c = 2.0 nats: the backtrace walks from the
    // END preferring the longest piece there, so bc wins the tail
    assert(pieces("abc") == Seq("a", "bc"))
    // unknown single char segments as itself at unk cost; unknown
    // longer substrings can never be chosen
    assert(pieces("xy") == Seq("x", "y"))
    // multiple words flatten in document order
    assert(pieces("ab xy abc") ==
      Seq("ab", "x", "y", "a", "bc"))
  }

  test("tokensUnigramJoin: segments bit-identically to the literal " +
    "flavor, including under a 50k-piece vocabulary the plan-literal " +
    "flavor should never carry") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abab abc xy"), (2L, "the thermal theory aba"),
      (3L, ""), (4L, "zz qq abab"))
      .toDF("doc_id", "text")
    val small = Map("ab" -> 1000000L, "a" -> 1000000L,
      "b" -> 1500000L, "aba" -> 2800000L, "c" -> 1000000L,
      "bc" -> 1000000L, "x" -> 1000000L, "th" -> 900000L,
      "he" -> 950000L, "e" -> 1200000L)
    def run(model: Map[String, Long]): Map[Long, Seq[String]] = {
      val lit = TextOps.tokensUnigram(docs, "text", "p", model)
        .select(col("doc_id"), col("p")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
      val modelDf = model.toSeq.toDF("piece", "cost_micro")
      val joined = TextOps.tokensUnigramJoin(docs, "doc_id", "text",
        "p", modelDf)
        .select(col("doc_id"), col("p")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
      assert(joined == lit,
        s"join flavor diverged from the literal flavor: $joined vs $lit")
      lit
    }
    val got = run(small)
    assert(got(1L) == Seq("ab", "ab", "a", "bc", "x", "y"))
    assert(got(3L) == Seq.empty)
    // pad to 50,000 pieces over a disjoint uppercase/digit alphabet
    // (never selectable on this fixture, exactly selectable-shaped):
    // identical output, and only the join flavor keeps the model out
    // of the plan
    val syms = ('A' to 'Z') ++ ('0' to '9')
    val pad = (for {
      a <- syms; b <- syms; c <- syms
    } yield s"$a$b$c").take(49990 - small.size - syms.size)
    val padded = small ++
      syms.map(ch => ch.toString -> 4000000L).toMap ++
      pad.map(p0 => p0 -> 5000000L).toMap
    assert(padded.size > 40000, s"pad fixture too small: ${padded.size}")
    run(padded)
  }

  test("langIdProfileJoin matches the literal flavor on the " +
    "profile fixture, including the und fallbacks") {
    import spark.implicits._
    val profDf = Seq(
      ("en", "the", 1.0), ("en", "ing", 0.7), ("en", "er ", 0.3),
      ("de", "der", 1.0), ("de", "sch", 0.9), ("de", "ein", 0.6),
      ("fr", "les", 1.0), ("fr", "ait", 0.7))
      .toDF("lang", "gram", "weight")
    val docs = Seq(
      (1L, "the weather is changing"),
      (2L, "schneller der einfache wagen"),
      (3L, "les traits quil avait"),
      (4L, "zzzz qqqq"))
      .toDF("doc_id", "text")
    val grams = docs.select(col("doc_id"),
      TextOps.charGrams(lower(col("text")), 3).as("grams"))
    val lit = grams.select(col("doc_id"),
      TextOps.langIdProfile(col("grams"),
        TextOps.loadLangProfiles(profDf)).as("lang_pred"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val joined = TextOps.langIdProfileJoin(grams, "doc_id",
      col("grams"), profDf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(joined == lit && lit(4L) == "und" && lit(1L) == "en")
  }

  test("learnUnigramLm: substring seeding with the vocab cap, hard-EM " +
    "reassigns counts to the cheaper segmentation, unused pieces " +
    "drop, costs are the exact micro-nat chain") {
    import spark.implicits._
    // "aa"x3 + "b": seed costs make a+a (2x -ln .6) cheaper than aa
    // (-ln .3), so EM drops "aa" and re-counts a=6, b=1
    val m1 = TextOps.learnUnigramLm(
      Seq("aa aa aa b").toDF("text"), "text",
      vocabSize = 5, maxPieceLen = 3, iters = 1)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(m1.toSeq == Seq(
      ("a", 6L, math.round(-math.log(6.0 / 7.0) * 1e6)),
      ("b", 1L, math.round(-math.log(1.0 / 7.0) * 1e6))), m1.toSeq)
    // "ab"x4: one piece beats two equal-cost halves -> singles drop
    val m2 = TextOps.learnUnigramLm(
      Seq("ab ab ab ab").toDF("text"), "text",
      vocabSize = 5, maxPieceLen = 3, iters = 1)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(m2.toSeq == Seq(("ab", 4L, 0L)), m2.toSeq)
    // iters=0 returns the seed model itself (all singles + top-cap
    // multis with substring counts)
    val seed = TextOps.learnUnigramLm(
      Seq("ab ab").toDF("text"), "text",
      vocabSize = 1, maxPieceLen = 2, iters = 0)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(seed.toSeq == Seq(("a", 2L), ("ab", 2L), ("b", 2L)))
  }

  test("tokenizer fertility: the q95 harness finally has TWO " +
    "subjects — a learned unigram model vs the BPE merge table on " +
    "one corpus") {
    import spark.implicits._
    val docs = Seq(
      ("the thermal theory", 18L), ("the theme there", 15L))
      .toDF("text", "n_chars")
    // unigram learned on the corpus itself: frequent substrings (th,
    // he, ...) become pieces, so fertility lands well under the
    // char-level ceiling
    val model = TextOps.learnUnigramLm(docs, "text",
      vocabSize = 8, maxPieceLen = 3, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val uni = TextOps.tokensUnigram(docs, "text", "p", model)
      .select(sum(size(col("p"))).cast("long")).head().getLong(0)
    val bpe = docs.select(
      sum(TextOps.tokenEstimateVocab(col("text"),
        graft.SparkEntry.gateBpeMerges)).cast("long"))
      .head().getLong(0)
    val chars = docs.select(
      sum(length(regexp_replace(col("text"), " ", "")))
        .cast("long")).head().getLong(0)
    val words = docs.select(
      sum(size(TextOps.tokensSimple(col("text")))).cast("long"))
      .head().getLong(0)
    // both subword tokenizers compress below characters and stay at
    // or above whitespace words; the learned unigram model (trained
    // ON this corpus) beats the fixed 5-merge BPE table here
    assert(uni < chars && bpe < chars)
    assert(uni >= words && bpe >= words)
    assert(uni <= bpe,
      s"unigram=$uni bpe=$bpe chars=$chars words=$words")
  }

  test("lshPlan: banding auto-tune puts the S-curve rise at the " +
    "threshold, is exact-division only, and fnWeight trades recall") {
    import graft.text.Dedup
    for (t <- Seq(0.3, 0.5, 0.7, 0.9); n <- Seq(64, 128)) {
      val (b, r) = Dedup.lshPlan(n, t)
      assert(b * r == n, s"($b,$r) not an exact split of $n")
      // the curve midpoint (1/b)^(1/r) must land near the threshold —
      // closer than either degenerate split
      def mid(b: Int, r: Int) = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(mid(b, r) - t) <= math.abs(mid(n, 1) - t) &&
        math.abs(mid(b, r) - t) <= math.abs(mid(1, n) - t),
        s"t=$t n=$n chose ($b,$r) mid=${mid(b, r)}")
    }
    // steeper thresholds need more rows per band
    assert(Dedup.lshPlan(128, 0.9)._2 > Dedup.lshPlan(128, 0.4)._2)
    // recall bias: fnWeight -> 1 never increases rows per band (fewer
    // missed near-dups, more candidates)
    assert(Dedup.lshPlan(128, 0.7, fnWeight = 1.0)._2 <=
      Dedup.lshPlan(128, 0.7, fnWeight = 0.0)._2)
    // determinism
    assert(Dedup.lshPlan(128, 0.7) == Dedup.lshPlan(128, 0.7))
    intercept[IllegalArgumentException] { Dedup.lshPlan(0, 0.5) }
    intercept[IllegalArgumentException] { Dedup.lshPlan(128, 1.0) }
  }

  test("signed-index lifecycle: write+append equals one-shot signing, " +
    "param mismatch throws, tombstones reach every consumer, " +
    "compaction preserves pairs and clears the tree") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i,
      if (i % 2 == 0) "the quick brown fox jumps over the lazy dog"
      else s"totally unique document body number $i with words"))
      .toDF("doc_id", "text")
    val dir = s"${tmpDir("signed-life")}/idx"
    Dedup.writeSignedIndex(docs.filter(col("doc_id") <= 10), dir,
      "text", "doc_id", tokenizer = graft.text.TextOps.tokensSimple)
    Dedup.appendToSignedIndex(docs.filter(col("doc_id") > 10), dir,
      "text", "doc_id", tokenizer = graft.text.TextOps.tokensSimple)
    // write+append == signing everything at once
    val oneShot = Dedup.signIndex(docs, "text", "doc_id",
      tokenizer = graft.text.TextOps.tokensSimple)
      .collect().map(_.getLong(0)).toSet
    assert(Dedup.readSignedIndex(spark, dir).collect()
      .map(_.getLong(0)).toSet == oneShot)
    // parameter mismatch is loud, not silent poison
    intercept[IllegalArgumentException] {
      Dedup.appendToSignedIndex(docs.limit(1), dir, "text", "doc_id",
        bands = 16, tokenizer = graft.text.TextOps.tokensSimple)
    }
    // a batch that signs to ZERO rows (everything deduped away
    // upstream): no segment is written (a zero-row batch dir would
    // brick reads), index intact
    Dedup.appendToSignedIndex(docs.filter(col("doc_id") < 0),
      dir, "text", "doc_id",
      tokenizer = graft.text.TextOps.tokensSimple)
    assert(Dedup.readSignedIndex(spark, dir).collect()
      .map(_.getLong(0)).toSet == oneShot)
    // tombstones: deleted ids vanish from reads and from pairs
    Dedup.deleteFromSignedIndex(Seq(4L, 6L).toDF("doc_id"), dir,
      "doc_id")
    val idx = Dedup.readSignedIndex(spark, dir)
    assert(!idx.collect().map(_.getLong(0)).toSet.exists(Set(4L, 6L)))
    val pairs = Dedup.nearDupPairsFromIndex(idx, "doc_id", 0.2)
      .collect().toSet
    assert(pairs.nonEmpty) // the even near-dup clones still pair up
    assert(!pairs.exists(r => Set(r.getLong(0), r.getLong(1))
      .exists(Set(4L, 6L))))
    // compaction: identical pairs, batch state gone, 18 live rows in
    // a fresh marker-committed generation (gens: create=1, append=2,
    // delete=3, compact=4)
    Dedup.compactSignedIndex(spark, dir)
    assert(Dedup.nearDupPairsFromIndex(
      Dedup.readSignedIndex(spark, dir), "doc_id", 0.2)
      .collect().toSet == pairs)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(!new java.io.File(s"$dir/rows_batches").exists())
    assert(!new java.io.File(s"$dir/rows").exists())
    assert(new java.io.File(s"$dir/rows_gen=4").isDirectory)
    assert(Dedup.readSignedIndex(spark, dir).count() == 18L)
    // retention: a retain=2 delete keeps the compacted snapshot
    // readable; time travel sees the pre-delete rows
    Dedup.deleteFromSignedIndex(Seq(8L).toDF("doc_id"), dir,
      "doc_id", retain = 2)
    assert(Dedup.signedMarker.listGenerations(spark, dir) == Seq(4L, 5L))
    assert(Dedup.readSignedIndex(spark, dir, 4L).count() == 18L)
    assert(Dedup.readSignedIndex(spark, dir).count() == 17L)
  }

  test("vocabRichness: hand Chao1 and Good-Turing coverage; " +
    "no-singleton corpus saturates") {
    import spark.implicits._
    // tokens: a×2, b, c, d → N=5, D=4, f1=3, f2=1
    val docs = Seq("a b a", "c d").toDF("text")
    val r = graft.text.TextOps.vocabRichness(docs, "text").head()
    assert(r.getAs[Long]("n_tokens") == 5L && r.getAs[Long]("n_types") == 4L)
    assert(r.getAs[Long]("f1") == 3L && r.getAs[Long]("f2") == 1L)
    assert(r.getAs[Long]("chao1_micro") == 5500000L, r) // 4 + 3·2/4
    assert(r.getAs[Long]("coverage_micro") == 400000L, r) // 1 − 3/5
    // every type seen twice: no singletons → chao1 = D, coverage = 1
    val sat = Seq("x y", "x y").toDF("text")
    val rs = graft.text.TextOps.vocabRichness(sat, "text").head()
    assert(rs.getAs[Long]("chao1_micro") == 2000000L)
    assert(rs.getAs[Long]("coverage_micro") == 1000000L)
  }

  test("vocabCoverage: the two-level bucketed ranking is row-identical " +
    "to a naive global sort on a skewed corpus (multi-octave head, " +
    "singleton tie spike, shared prefixes) at several prefix lengths") {
    import spark.implicits._
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // head across log2 octaves, including octave-boundary counts
    for ((w, c) <- Seq("alpha" -> 1000L, "beta" -> 513L, "bb" -> 512L,
      "gamma" -> 100L, "delta" -> 17L, "eps" -> 16L, "zeta" -> 15L,
      "a" -> 4L))
      counts(w) = c
    // tie spikes: 200 singletons (the n=1 spike), 50 at count 2
    // sharing first chars across prefix sub-buckets, 30 at count 3
    for (i <- 0 until 200) counts(f"t$i%03d") = 1L
    for (i <- 0 until 50) counts(s"u${i % 10}x$i") = 2L
    for (i <- 0 until 30) counts(s"v$i") = 3L
    val rnd = new scala.util.Random(7)
    val tokens = rnd.shuffle(counts.toSeq.flatMap {
      case (w, c) => Seq.fill(c.toInt)(w)
    })
    val docs = tokens.grouped(50).map(_.mkString(" ")).toSeq.toDF("text")
    // naive driver reference: global (count desc, token asc) sort —
    // ASCII tokens, so String order == Spark's UTF-8 byte order
    val total = counts.values.sum
    val sorted = counts.toSeq.sortBy { case (w, c) => (-c, w) }
    var cum = 0L
    val want = sorted.zipWithIndex.map { case ((w, c), i) =>
      cum += c
      (i + 1L, w, c, cum,
        BigDecimal(cum.toDouble / total.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    for (pfx <- Seq(1, 2, 3)) {
      val got = TextOps.vocabCoverage(docs, "text", prefixLen = pfx)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
        .sortBy(_._1).toSeq
      assert(got == want, s"prefixLen=$pfx diverges from the global sort")
    }
  }

  test("learnBpeMergesLocal: merge-for-merge identical to the " +
    "distributed trainer on the gate corpus at rounds >= 5; the " +
    "maxWords guard fails loudly instead of truncating") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val dist = asTuples(TextOps.learnBpeMerges(docs, "text", rounds = 6))
    val local =
      asTuples(TextOps.learnBpeMergesLocal(docs, "text", rounds = 6))
    assert(local == dist,
      s"local/distributed BPE diverge:\nlocal=$local\ndist=$dist")
    // tie-break parity on the crafted overlap corpus too
    import spark.implicits._
    val tricky = Seq("aaaa aaa", "low low lower lowest low")
      .toDF("text")
    assert(
      asTuples(TextOps.learnBpeMergesLocal(tricky, "text", rounds = 4)) ==
        asTuples(TextOps.learnBpeMerges(tricky, "text", rounds = 4)))
    // vocabulary larger than maxWords → loud error, not a silent cut
    val err = intercept[IllegalArgumentException] {
      TextOps.learnBpeMergesLocal(docs, "text", rounds = 1, maxWords = 3)
    }
    assert(err.getMessage.contains("maxWords"))
  }

  test("noveltyScore: first introduction wins in id order; repeats " +
    "score fractional; sub-gram docs drop") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),     // grams {a b c, b c d} — all first
      (2L, "a b c e"),     // {a b c (seen), b c e (new)} → 0.5
      (3L, "a b c d"),     // both grams seen → 0.0
      (4L, "x y")).toDF("doc_id", "text") // no 3-gram → no row
    val got = TextOps.noveltyScore(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      1L -> ((2L, 2L, 1.0)),
      2L -> ((2L, 1L, 0.5)),
      3L -> ((2L, 0L, 0.0))))
  }

  test("noveltyFromIndex: same-corpus index reproduces noveltyScore; " +
    "an older index answers what a new batch adds") {
    import spark.implicits._
    val base = Seq(
      (1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("novidx").toString
    TextOps.writeNoveltyIndex(base, dir, "text", "doc_id")
    val idx = spark.read.parquet(dir)
    val inline = TextOps.noveltyScore(base, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val fromIdx = TextOps.noveltyFromIndex(base, idx, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(inline == fromIdx)
    // a later batch against the OLD index: repeated grams are stale,
    // unseen grams are novel
    val batch = Seq((9L, "a b c z")).toDF("doc_id", "text")
    val got = TextOps.noveltyFromIndex(batch, idx, "text", "doc_id")
      .head()
    // grams {a b c (indexed), b c z (absent → novel)}
    assert(got.getLong(1) == 2L && got.getLong(2) == 1L)
  }

  test("fightinWords: planted over-representation signs delta; " +
    "balanced terms sit near zero with tighter variance when common") {
    import spark.implicits._
    val df = Seq(
      (0L, "base base hot"), (2L, "base base hot"),   // slice 1 (even)
      (1L, "base base new new"), (3L, "base base new new")) // slice 2
      .toDF("doc_id", "text")
    val got = TextOps.fightinWords(df, "text",
      col("doc_id") % 2 === 1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // 'new' only in slice 2 → strongly positive; 'hot' only in slice 1
    // → strongly negative; 'base' balanced → small |delta|
    assert(got("new")._3 > 0 && got("hot")._3 < 0)
    assert(math.abs(got("base")._3) < got("new")._3)
    // variance shrinks with evidence: 'base' (8 occurrences) tighter
    // than 'hot' (2)
    assert(got("base")._4 < got("hot")._4)
    assert(got("new") == ((0L, 4L, got("new")._3, got("new")._4)))
  }

  test("cdcChunks: chunks reassemble to the text (incl. multi-byte " +
    "and astral chars); an early edit leaves later chunks identical") {
    import graft.text.Dedup
    val rnd = new scala.util.Random(41)
    val alpha = "abcdef é世😀" // é, 世, 😀
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until rnd.nextInt(200)).map(_ =>
        alpha.charAt(rnd.nextInt(7))).mkString + // ASCII-biased body
        (if (i % 3 == 0) "é世😀" else ""))
    } :+ (30L, "") :+ (31L, "short")
    val df = docs.toDF("doc_id", "text")
    val got = df.select(col("doc_id"), col("text"),
      concat_ws("", Dedup.cdcChunks(col("text"), 8, 4)).as("re"),
      Dedup.cdcChunks(col("text"), 8, 4).as("ch")).collect()
    got.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"doc ${r.getLong(0)}")
      assert(r.getSeq[String](3).nonEmpty)
    }
    // locality: prepend one char to a long doc — chunk multiset tails
    // agree (the first boundary after the edit realigns)
    val base = (0 until 400).map(_ =>
      alpha.charAt(rnd.nextInt(7))).mkString
    val two = Seq((0L, base), (1L, "X" + base)).toDF("doc_id", "text")
    val ch = two.select(col("doc_id"),
        Dedup.cdcChunks(col("text"), 8, 16).as("ch")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val shared = ch(0L).toSet.intersect(ch(1L).toSet)
    assert(shared.size >= ch(0L).size - 2,
      s"edit broke chunk sharing: ${ch(0L).size} vs shared " +
        s"${shared.size}")
  }

  test("pmiCollocations: a glued pair outranks a chance pair; " +
    "support floor drops rare pairs; micro-nat value is exact") {
    import spark.implicits._
    // 'alpha beta' always adjacent (glued); 'x y' co-occur only by
    // chance among independent fillers; 'rare pair' appears once
    val glue = (0 until 8).map(i => (i.toLong, "alpha beta x y"))
    val noise = (8 until 16).map(i => (i.toLong, "x q y p x r"))
    val df = (glue ++ noise :+ (16L, "rare pair")).toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(df, "text", minCount = 2L,
      topK = 10).collect()
    val byPair = got.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // rare pair (count 1) floored out
    assert(!byPair.contains(("rare", "pair")))
    // glued pair present with exact counts and outranking 'x y'
    val (cab, ca, cb, pmi) = byPair(("alpha", "beta"))
    assert(cab == 8L && ca == 8L && cb == 8L)
    val n = df.select(explode(TextOps.tokensSimple(col("text")))).count()
    val expect = math.round(math.log(8.0 * n) * 1e6) -
      math.round(math.log(8.0 * 8.0) * 1e6)
    assert(pmi == expect)
    assert(pmi > byPair(("x", "y"))._4)
    // output honors the (pmi desc, w1, w2) order
    val pmis = got.map(_.getLong(5)).toSeq
    assert(pmis == pmis.sorted.reverse)
  }

  test("unigramEntropy: uniform two-token group hits ln(2) in " +
    "micro-nats, constant group reads zero") {
    import spark.implicits._
    val df = Seq(
      ("g1", "a a b b"), // p = (.5, .5) → H = ln 2
      ("g2", "a a a a")).toDF("source", "text")
    val got = TextOps.unigramEntropy(df, "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // per-term micro contribution: round(0.5 * ln 2 * 1e6) = 346574
    assert(got("g1") == ((4L, 2L, 693148L)))
    assert(got("g2") == ((4L, 1L, 0L)))
  }
}
