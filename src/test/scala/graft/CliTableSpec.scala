package graft

import graft.cli.Main

/** Dispatch-level tests over the CLI command table (`Main.commands`):
  * the verb set, each verb's arity, the usage generated from the table,
  * and the exit status `Main.run` returns. Many verbs have no smoke call
  * in [[CliSmokeSpec]]; these checks cover every one of them without
  * running a command.
  */
class CliTableSpec extends SparkSpec {

  System.setProperty("graft.cli.keepSession", "true")

  /** Every verb with its arity: `n` takes exactly n arguments, `n+` at
    * least n.
    */
  private val arities: Map[String, (Int, Boolean)] = Seq(
    "ingest 2+", "dump 2+", "diagnose 1", "stats 1", "compact 1+",
    "dedup 2+", "sign-index 2+", "sign-append 2+", "sign-delete 2+",
    "sign-generations 1", "sign-compact 1+", "decontaminate 3+", "clean 3+",
    "audit 3+", "audit-store 3+", "preflight 1", "distinct 1+", "freq 2+",
    "ann-index 2+", "ann-append 2", "ann-delete 2+", "ann-compact 1+",
    "ann-generations 1", "ann-query 3+", "pq-index 2+", "pq-append 2+",
    "pq-delete 2+", "pq-compact 1+", "takedown 1+", "index-drift 2+",
    "drift-repair 1+", "docpool-write 2+", "docpool-upsert 2+",
    "docpool-remove 2+", "docpool-read 2+", "pq-generations 1",
    "pq-query 3+", "ann-eval 1+", "pq-eval 1+", "semdedup 2+",
    "funnel-stream 4+", "funnel-report 2+", "sessions-stream 3+",
    "sessions-report 2", "dedup-stream 4+", "split 2+", "mix 2+", "pack 2+",
    "tfidf 2+", "sample 2+", "gopher 2+", "dsir 3+", "ppl 3+",
    "warc-ingest 2+", "wet-ingest 2+", "decode-audio 2+", "mp3-meta 2+",
    "exif 2+", "mp4-meta 2+", "mkv-meta 2+", "flac-meta 2+", "ogg-meta 2+",
    "decode-image 2+", "bm25 3+", "phrase 3+", "bpe-learn 2+", "train 4+",
    "bm25-index 2+", "bm25-append 2+", "bm25-query 2+", "bm25-generations 1",
    "bm25-delete 2+", "bm25-compact 1+", "wsample 4+", "calibration 4+",
    "quantiles 3+", "outliers 3+", "emb-drift 3+", "fk-audit 4", "scd2 6",
    "snapshot-diff 4", "roc-auc 4", "kappa 3", "ohlc 5+", "trend 2+",
    "changepoint 2+", "acf 2+", "survival 2+", "agg-state 5", "welch 3",
    "theil 2+", "blocklist 2+", "fingerprint 3", "tar-export 2+",
    "funnel 2+", "retention 1", "diff 2+", "profile 1", "manifest 1+",
    "skew 2+", "pagerank 2+", "harmonic 2+", "fix-encoding 2+", "pii 2+",
    "robots-filter 3+", "report 1+", "triangles 2+", "kcore 2+",
    "overlap 2+", "fim 2+", "chunk 2+", "shuffle 2+", "upsert 5",
    "classify 3+", "divergence 1+", "buckets 3+", "despan 2+", "semdecon 3+",
    "dhash 2+", "hll 1+", "pmi 1+", "hits 2+", "hill 1+", "transitions 1+",
    "burstiness 1+", "psi 3+", "cdc 1+", "rfm 1+", "ab 2", "leadlag 3+",
    "zscore 3+", "journeys 1+", "assoc 1", "joincard 3", "cuped 2+",
    "ndcg 4+", "er 3+", "pca 1+", "pool-commit 2+", "pool-read 2+",
    "pool-generations 1", "spearman 4", "benford 2", "chisq 3", "mrr 4",
    "rouge 4+", "stl 3+", "hazard 1+", "snaive 2+", "alpha 3", "bh 3+",
    "kanon 5", "zorder 4+", "hilbert 4+", "hilbert-n 3+", "unigram-learn 2+",
    "unigram-apply 3+", "bloom-index 2+", "bloom-probe 3+", "bloom-read 4",
    "zorder-n 3+", "by 3+", "hr 3+", "oddsratio 3", "ratetest 4",
    "blocking-eval 4+", "ppr 3+", "mwu 3", "gini 2", "jsd 3", "cramers 3",
    "adamic 1+", "mi 3", "mcnemar 4", "rmst 3+", "assortativity 1",
    "modularity 2", "fs-em 2+", "kendall 3", "cohend 3", "logrank 3+",
    "cohensh 3", "holm 3+", "ipw 5+", "aipw 5+", "kish 2", "skip-report 4",
    "dispersion 2", "dp-counts 5", "msprt 3+", "ks 3", "ari 3", "cmh 4",
    "mondrian 4+", "logrank-strat 4+", "trimmed 2+", "anova 3", "levene 3",
    "isotonic 3+", "qnorm 4", "logistic 4+", "logistic-score 3+",
    "cochran 2", "friedman 2", "mad 2", "propz 3", "kruskal 3",
    "vocab-richness 1+", "bootstrap-ci 3+"
  ).map { s =>
    val Array(verb, n) = s.split(' ')
    verb -> (n.stripSuffix("+").toInt, n.endsWith("+"))
  }.toMap

  private def args(n: Int): List[String] = List.fill(n)("x")

  /** `Main.run` on each argument list, with what it printed to stderr
    * and the jobs all of them ran together.
    */
  private def runAll(argLists: Seq[Seq[String]])
      : (Seq[(Int, String)], Seq[Seq[String]]) = jobsOf {
    argLists.map { a =>
      val err = new java.io.ByteArrayOutputStream()
      val status = Console.withErr(err)(Main.run(a.toArray))
      (status, err.toString("UTF-8"))
    }
  }

  /** The `<...>` arguments of a spec outside its `[...]` options. */
  private def required(spec: String): Int = {
    var s = spec
    var prev = ""
    while (s != prev) { prev = s; s = s.replaceAll("\\[[^\\[\\]]*\\]", "") }
    "<[^>]*>".r.findAllIn(s).size
  }

  test("the table holds exactly the 209 verbs, each at its arity") {
    assert(arities.size == 209)
    assert(Main.commands.size == 209)
    assert(Main.commands.map(_.verb).toSet == arities.keySet)
    Main.commands.foreach { c =>
      val (n, atLeast) = arities(c.verb)
      assert(c.handler.isDefinedAt(args(n)), c.verb)
      assert(!c.handler.isDefinedAt(args(n - 1)), c.verb)
      assert(c.handler.isDefinedAt(args(n + 1)) == atLeast, c.verb)
      assert(!atLeast || c.handler.isDefinedAt(args(n + 3)), c.verb)
    }
  }

  test("each verb's usage line names its required arguments") {
    Main.commands.foreach { c =>
      val (n, atLeast) = arities(c.verb)
      assert(required(c.args) == n, c.args)
      if (!atLeast) assert(!c.args.contains("["), c.args)
    }
  }

  test("no arguments or an unknown verb: status 2 and the usage of " +
    "every verb, without a Spark job") {
    val (out, jobs) = runAll(Seq(Nil, Seq("no-such-verb", "x")))
    assert(jobs.isEmpty)
    out.foreach { case (status, err) =>
      assert(status == 2)
      val lines = err.split("\n").toSeq
      assert(lines.head.startsWith("usage: "))
      assert(lines.tail == Main.commands.map(c => s"  ${c.verb} ${c.args}"))
    }
  }

  test("too few arguments, or one too many for a fixed arity: status 2 " +
    "and the verb's usage line, without a Spark job") {
    val cases = Main.commands.flatMap { c =>
      val (n, atLeast) = arities(c.verb)
      (Seq(n - 1) ++ (if (atLeast) Nil else Seq(n + 1)))
        .map(k => c -> (c.verb +: args(k)))
    }
    assert(cases.size > 209)
    val (out, jobs) = runAll(cases.map(_._2))
    assert(jobs.isEmpty, jobs)
    cases.map(_._1).zip(out).foreach { case (c, (status, err)) =>
      assert(status == 2, c.verb)
      assert(err == s"usage: ${c.verb} ${c.args}\n", c.verb)
    }
  }

  test("an unhealthy diagnose returns status 1 in the same JVM") {
    val missing = s"${tmpDir("cli-table")}/no-pool-here"
    assert(Main.run(Array("diagnose", missing)) == 1)
    assert(!spark.sparkContext.isStopped)
  }
}
