package graft.cli

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.operators.{Diagnose, Export, Ingest, Pool}
import graft.schema.Vintages

/** CLI entry points: the reference workflow (ingest / dump / diagnose)
  * and the pipeline, index, streaming and statistics commands built on
  * it. Each verb is one entry of [[commands]] (verb, argument spec,
  * handler); run with no arguments to print the usage generated from
  * that table.
  *
  * vintage ∈ {canonical, bdb2018, bdb2026} (Vintages.byName). The
  * LLM-pipeline commands read a corpus with (doc_id, text) columns —
  * parquet by default, JSONL with `--jsonl` — and write JSONL.
  *
  * Token budgets (`mix`, `pack`) are measured with the PRODUCTION
  * tokenizer `TextOps.tokens`; the q59/q63 gate fixtures measure with
  * `TextOps.tokensSimple` (the SQL-replayable split), so CLI token
  * counts differ slightly from gate/oracle output for the same corpus.
  * Pass `--simple-tokens` to reproduce the gate's budgets exactly.
  */
object Main {

  private def session(): SparkSession =
    GraftSession(GraftSession.cpus("32"), "WARN",
      sys.env.get("SPARK_GRAFT_MASTER"))

  /** End-of-command session teardown. `getOrCreate` joins an existing
    * session when one is live, so in-JVM harnesses (CliSmokeSpec) set
    * `-Dgraft.cli.keepSession=true` to keep their shared session alive
    * across commands; real CLI runs stop it.
    */
  private def done(s: SparkSession): Unit =
    if (System.getProperty("graft.cli.keepSession") == null) s.stop()

  def main(args: Array[String]): Unit = {
    val status = run(args)
    if (status != 0) sys.exit(status)
  }

  /** Runs one command and returns its exit status: 0; 1 for an
    * unhealthy `diagnose`; 2 for an unknown verb or a wrong argument
    * count (usage printed, no session started); 3 for a `takedown` or
    * `drift-repair` certificate that fails. The session is stopped
    * (see [[done]]) however the handler ends; its exceptions propagate.
    */
  def run(args: Array[String]): Int = args.toList match {
    case verb :: rest if byVerb.contains(verb) =>
      val c = byVerb(verb)
      c.handler.lift(rest) match {
        case Some(handler) =>
          val spark = session()
          try handler(spark) finally done(spark)
        case None =>
          Console.err.println(s"usage: ${c.verb} ${c.args}")
          2
      }
    case _ =>
      Console.err.println(usage)
      2
  }

  /** One verb: its argument spec (the usage text) and its handler. The
    * handler's pattern is the verb's arity; the function it yields for
    * matching arguments runs against the session [[run]] starts and
    * returns the exit status.
    */
  private[graft] final case class Command(verb: String, args: String)(
      val handler: PartialFunction[List[String], SparkSession => Int])

  /** A command that reports by printing only (exit status 0). */
  private def cmd(verb: String, args: String)(
      handler: PartialFunction[List[String], SparkSession => Unit]) =
    Command(verb, args)(handler.andThen(h => (s: SparkSession) => { h(s); 0 }))

  /** Every verb, in usage order. */
  private[graft] val commands: Seq[Command] = Seq(
    cmd("ingest", "<inputDir> <poolRoot> [vintage] [--dry-run]") {
      case input :: poolRoot :: rest => spark =>
        val vintage = rest.find(!_.startsWith("--")).getOrElse("canonical")
        val config = Vintages.byName.getOrElse(vintage,
          sys.error(s"unknown vintage $vintage; " +
            s"one of ${Vintages.byName.keys.mkString(", ")}"))
        val dryRun = rest.contains("--dry-run")
        val res = Ingest.run(spark, input, poolRoot, config, dryRun)
        println(s"[ingest] rows=${res.summary.rows} " +
          s"games=${res.summary.games} plays=${res.summary.plays} " +
          s"maxFrame=${res.summary.maxFrame.getOrElse(-1)} " +
          s"badFiles=${res.badFiles.size}")
        res.badFiles.foreach(f => println(s"[ingest]   skipped: $f"))
    },

    cmd("dump", "<poolRoot> <outDir> [n] [seed]") {
      case poolRoot :: outDir :: rest => spark =>
        val n = rest.headOption.map(_.toInt).getOrElse(10)
        val seed = rest.drop(1).headOption.map(_.toLong).getOrElse(42L)
        Export.csvSingle(Pool(spark, poolRoot).samplePlays(n, Nil, seed),
          outDir)
        println(s"[dump] $n plays (seed $seed) → $outDir")
    },

    Command("diagnose", "<poolRoot>") {
      case poolRoot :: Nil => spark =>
        val rep = Diagnose(spark, poolRoot)
        println(s"[diagnose] rootExists=${rep.rootExists} " +
          s"parquetFiles=${rep.parquetFiles} " +
          s"fields=${rep.schemaFields.size} oneRow=${rep.oneRowFetchable} " +
          s"healthy=${rep.healthy}")
        if (rep.healthy) 0 else 1
    },

    cmd("stats", "<poolRoot>") {
      case poolRoot :: Nil => spark =>
        val rows = Ingest.partitionStats(spark, poolRoot)
          .orderBy("season", "gameId").collect()
        rows.foreach(r => println(s"[stats] ${r.mkString(" ")}"))
        println(s"[stats] ${rows.length} partitions")
    },

    cmd("compact", "<poolRoot> [season]") {
      case poolRoot :: rest => spark =>
        import org.apache.spark.sql.functions.{col, lit}
        // optional season scope: compact one partition subtree per run —
        // the operational shape at scale (whole-lake runs stay safe via
        // compactPool's staged swap, but scoping bounds the rewrite)
        val pred = rest.headOption match {
          case Some(season) => col("season") === season.toInt
          case None =>
            println("[compact] no season scope given — rewriting the " +
              "whole pool (staged, partition-atomic)")
            lit(true)
        }
        Ingest.compactPool(spark, poolRoot, pred)
        println(s"[compact] $poolRoot rewritten")
    },

    cmd("dedup", "<corpus> <outDir> [--near | --index <idx>] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        val docs = loadCorpus(spark, corpus, rest)
        // --index <path>: near-dedup joins a persisted signature index
        // (sign-index command) instead of re-signing the corpus per run
        val idxPath = flag(rest, "--index")
        val kept =
          if (idxPath.isDefined)
            graft.text.Dedup.dedupNearFromIndex(docs,
              graft.text.Dedup.readSignedIndex(spark, idxPath.get), "doc_id")
          else if (rest.contains("--near"))
            graft.text.Dedup.dedupNear(docs, "text", "doc_id")
          else graft.text.Dedup.dedupExact(docs, "text", "doc_id")
        Export.jsonl(kept, outDir)
        println(s"[dedup] ${docs.count()} docs -> ${kept.count()} kept " +
          s"-> $outDir")
    },

    cmd("sign-index", "<corpus> <outDir> [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        val docs = loadCorpus(spark, corpus, rest)
        graft.text.Dedup.writeSignedIndex(docs, outDir, "text", "doc_id")
        println(s"[sign-index] ${docs.count()} docs signed -> $outDir")
    },

    // sign and append a NEW batch to a persisted signature index
    // (parameters validated against the index's meta)
    cmd("sign-append", "<corpus> <indexDir> [--jsonl]") {
      case corpus :: indexDir :: rest => spark =>
        val docs = loadCorpus(spark, corpus, rest)
        graft.text.Dedup.appendToSignedIndex(docs, indexDir, "text",
          "doc_id")
        println(s"[sign-append] ${docs.count()} docs appended " +
          s"-> $indexDir")
    },

    // tombstone documents out of a persisted signature index
    cmd("sign-delete", "<idsParquet> <indexDir> [idCol] [retain]") {
      case idsPath :: indexDir :: rest => spark =>
        val idCol = rest.headOption.getOrElse("doc_id")
        val retain = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
        graft.text.Dedup.deleteFromSignedIndex(
          spark.read.parquet(idsPath), indexDir, idCol, retain)
        println(s"[sign-delete] tombstone batch committed to $indexDir")
    },

    // the committed signed-index snapshots still inside the window
    cmd("sign-generations", "<indexDir>") {
      case indexDir :: Nil => spark =>
        val gens = graft.text.Dedup.signedGenerations(spark, indexDir)
        println(s"[sign-generations] ${gens.mkString(",")}")
    },

    // compact a persisted signature index (rewrite minus tombstones)
    cmd("sign-compact", "<indexDir> [retain]") {
      case indexDir :: rest => spark =>
        val retain = rest.headOption.map(_.toInt).getOrElse(1)
        graft.text.Dedup.compactSignedIndex(spark, indexDir, retain)
        println(s"[sign-compact] $indexDir rewritten; " +
          s"${graft.text.Dedup.readSignedIndex(spark, indexDir).count()} " +
          "live signatures")
    },

    cmd("decontaminate", "<corpus> <evalSet> <outDir> [k] [--bloom] [--jsonl]") {
      case corpus :: evalPath :: outDir :: rest => spark =>
        val k = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(13)
        val docs = loadCorpus(spark, corpus, rest)
        val eval = loadCorpus(spark, evalPath, rest)
        // --bloom: broadcast-sketch prefilter (the 100 TB shape) — same
        // rows as the exact path, less shuffle
        val kept =
          if (rest.contains("--bloom"))
            graft.text.Dedup.decontaminateBloom(docs, eval, "text", "doc_id", k)
          else graft.text.Dedup.decontaminate(docs, eval, "text", "doc_id", k)
        Export.jsonl(kept, outDir)
        println(s"[decontaminate] ${docs.count()} docs -> ${kept.count()} " +
          s"kept (k=$k, bloom=${rest.contains("--bloom")}) -> $outDir")
    },

    cmd("clean", "<corpus> <evalSet> <outDir> [minQuality] [maxDupRatio] [--jsonl]") {
      case corpus :: evalPath :: outDir :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val minQ = nums.headOption.map(_.toDouble).getOrElse(0.0)
        val maxDup = nums.drop(1).headOption.map(_.toDouble).getOrElse(1.0)
        val docs = loadCorpus(spark, corpus, rest)
        val eval = loadCorpus(spark, evalPath, rest)
        val kept = graft.text.Pipeline.cleanCorpus(docs, eval,
          "text", "doc_id", minQuality = minQ, maxDupRatio = maxDup)
        Export.jsonl(kept, outDir)
        println(s"[clean] ${docs.count()} docs -> ${kept.count()} kept " +
          s"(minQuality=$minQ maxDupRatio=$maxDup) -> $outDir")
    },

    cmd("audit", "<corpus> <evalSet> <outDir> [minQuality] [maxDupRatio] [--jsonl]") {
      case corpus :: evalPath :: outDir :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val minQ = nums.headOption.map(_.toDouble).getOrElse(0.0)
        val maxDup = nums.drop(1).headOption.map(_.toDouble).getOrElse(1.0)
        val docs = loadCorpus(spark, corpus, rest)
        val eval = loadCorpus(spark, evalPath, rest)
        val audit = graft.text.Pipeline.removalAudit(docs, eval,
          "text", "doc_id", minQuality = minQ, maxDupRatio = maxDup)
        Export.jsonl(audit, outDir)
        val byTier = audit.groupBy("verdict").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        println(s"[audit] ${docs.count()} docs audited ($byTier) -> $outDir")
    },

    // persist the audit as the run's lineage ARTIFACT (narrow
    // id/verdict parquet) — downstream consumers read it instead of
    // re-scoring the corpus
    cmd("audit-store", "<corpus> <evalSet> <auditDir> [minQuality] [maxDupRatio] [--jsonl]") {
      case corpus :: evalPath :: auditDir :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val minQ = nums.headOption.map(_.toDouble).getOrElse(0.0)
        val maxDup = nums.drop(1).headOption.map(_.toDouble).getOrElse(1.0)
        val docs = loadCorpus(spark, corpus, rest)
        val eval = loadCorpus(spark, evalPath, rest)
        graft.text.Pipeline.writeRemovalAudit(
          graft.text.Pipeline.removalAudit(docs, eval, "text", "doc_id",
            minQuality = minQ, maxDupRatio = maxDup), auditDir)
        println(s"[audit-store] audit artifact -> $auditDir")
    },

    // the production preflight: per-verdict counts off the persisted
    // artifact — zero corpus scans
    cmd("preflight", "<auditDir>") {
      case auditDir :: Nil => spark =>
        val counts = graft.text.Pipeline.preflightFromAudit(
          graft.text.Pipeline.readRemovalAudit(spark, auditDir))
          .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
          .sorted.mkString(" ")
        println(s"[preflight] $counts")
    },

    cmd("distinct", "<corpus> [k] [--jsonl]") {
      case corpus :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val k = nums.headOption.map(_.toInt).getOrElse(128)
        val docs = loadCorpus(spark, corpus, rest)
        import graft.text.TextOps
        import org.apache.spark.sql.functions.col
        val est = docs
          .select(col("source"),
            TextOps.shingles(TextOps.tokensSimple(col("text")), 3).as("_g"))
          .groupBy(col("source"))
          .agg(TextOps.kmvSketch(col("_g"), k).as("_sk"))
          .select(col("source"),
            TextOps.kmvEstimate(col("_sk"), k).as("est_distinct"))
          .orderBy(col("source"))
          .collect()
        est.foreach(r =>
          println(f"[distinct] ${r.getString(0)}%-20s ~${r.getDouble(1)}%.0f " +
            s"distinct 3-grams (kmv k=$k)"))
    },

    cmd("freq", "<corpus> <term> [term...] [--jsonl]") {
      case corpus :: term :: more => spark =>
        val rest = term :: more
        val terms = rest.filter(!_.startsWith("--"))
        require(terms.nonEmpty, "usage: freq <corpus> <term> [term...]")
        val docs = loadCorpus(spark, corpus, rest)
        import graft.text.TextOps
        import org.apache.spark.sql.functions.{col, lit}
        val sk = docs
          .select(TextOps.tokensSimple(col("text")).as("_t"))
          .agg(TextOps.cmsSketch(col("_t"), 4, 8192).as("_sk"))
          .head().getAs[scala.collection.Seq[Long]]("_sk")
        val skDf = spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(sk)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_sk",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.LongType, false)))))
        val est = { import spark.implicits._; terms.toDF("term") }.crossJoin(skDf)
          .select(col("term"),
            TextOps.cmsEstimate(col("_sk"), col("term"), 4, 8192)
              .as("est")).collect()
        est.foreach(r => println(
          f"[freq] ${r.getString(0)}%-24s ~${r.getLong(1)} occurrences " +
            "(cms 4x8192, overcount-only)"))
    },

    cmd("ann-index", "<embeddings> <outDir> [planes] [dim]") {
      case corpus :: outDir :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val planes = nums.headOption.map(_.toInt).getOrElse(12)
        val dim = nums.drop(1).headOption.map(_.toInt).getOrElse(64)
        val emb = spark.read.parquet(corpus)
        graft.sim.SimSearch.writeAnnIndex(emb, outDir, "vec_id", "embedding",
          planes, dim)
        println(s"[ann-index] ${emb.count()} vectors bucketed " +
          s"(planes=$planes) -> $outDir")
    },

    // append new vectors to a persisted ANN index (validated against
    // the persisted LSH meta; caller deduped the ids upstream)
    cmd("ann-append", "<embeddings> <indexDir>") {
      case corpus :: indexDir :: Nil => spark =>
        val emb = spark.read.parquet(corpus)
        graft.sim.SimSearch.appendToAnnIndex(emb, indexDir,
          "vec_id", "embedding")
        println(s"[ann-append] +${emb.count()} vectors -> $indexDir " +
          s"(${graft.sim.SimSearch.readAnnIndex(spark, indexDir).count()}" +
          " live)")
    },

    // tombstone-delete ids from a persisted ANN index (ids-only
    // batch + one _live marker PUT; nothing rewritten)
    cmd("ann-delete", "<idsParquet> <indexDir> [retain]") {
      case idsPath :: indexDir :: rest => spark =>
        val retain = rest.headOption.map(_.toInt).getOrElse(1)
        graft.sim.SimSearch.deleteFromAnnIndex(
          spark.read.parquet(idsPath), indexDir, retain)
        println("[ann-delete] index now serves " +
          s"${graft.sim.SimSearch.readAnnIndex(spark, indexDir).count()}" +
          " live vectors")
    },

    // compact a persisted ANN index (fold tombstones into a fresh
    // marker-committed vectors generation)
    cmd("ann-compact", "<indexDir> [retain]") {
      case indexDir :: rest => spark =>
        val retain = rest.headOption.map(_.toInt).getOrElse(1)
        graft.sim.SimSearch.compactAnnIndex(spark, indexDir, retain)
        println("[ann-compact] compacted to " +
          s"${graft.sim.SimSearch.readAnnIndex(spark, indexDir).count()}" +
          " vectors")
    },

    // list the ANN index snapshots still inside the retention window
    cmd("ann-generations", "<indexDir>") {
      case indexDir :: Nil => spark =>
        val gens = graft.sim.SimSearch.annGenerations(spark, indexDir)
        println(s"[ann-generations] ${gens.mkString(",")}")
    },

    cmd("ann-query", "<idxDir> <queries> <outDir> [k] [planes] [dim] [--gen=N]") {
      case idxPath :: queries :: outDir :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val k = nums.headOption.map(_.toInt).getOrElse(10)
        val planes = nums.drop(1).headOption.map(_.toInt).getOrElse(12)
        val dim = nums.drop(2).headOption.map(_.toInt).getOrElse(64)
        val gen = rest.find(_.startsWith("--gen="))
          .map(_.stripPrefix("--gen=").toLong)
        val idx = gen
          .map(graft.sim.SimSearch.readAnnIndex(spark, idxPath, _))
          .getOrElse(graft.sim.SimSearch.readAnnIndex(spark, idxPath))
        val q = spark.read.parquet(queries)
        val hits = graft.sim.SimSearch.annTopKFromIndex(idx, q,
          "vec_id", "embedding", k, planes, dim, probeBits = 1)
        hits.write.mode("overwrite").parquet(outDir)
        // count the WRITTEN output — recounting `hits` would re-execute
        // the whole bucket join + top-k a second time
        val n = spark.read.parquet(outDir).count()
        println(s"[ann-query] ${q.count()} queries x top-$k " +
          s"-> $n hits -> $outDir")
    },

    // persist the IVF-PQ index: codebooks + cell-partitioned codes +
    // centroids (cells default to label; pass a cell column name)
    cmd("pq-index", "<embeddings> <outDir> [m] [k] [iters] [dim] " +
        "[cellCol] [--residual | --opq | --opq-dense]") {
      case corpus :: outDir :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val m = nums.headOption.map(_.toInt).getOrElse(4)
        val k = nums.drop(1).headOption.map(_.toInt).getOrElse(16)
        val iters = nums.drop(2).headOption.map(_.toInt).getOrElse(2)
        val dim = nums.drop(3).headOption.map(_.toInt).getOrElse(64)
        val cellCol = nums.drop(4).headOption.getOrElse("label")
        // the flag names the flavor; --opq-dense wins over --opq over
        // --residual (both OPQ tiers encode residuals)
        val flavor = Seq("--opq-dense", "--opq", "--residual")
          .find(rest.contains).fold("plain")(_.stripPrefix("--"))
        val emb = spark.read.parquet(corpus)
        graft.sim.SimSearch.writePqIndex(emb, outDir, "vec_id",
          "embedding", cellCol, m, k, iters, dim, flavor = flavor)
        println(s"[pq-index] ${emb.count()} vectors -> m=$m k=$k " +
          s"residual=${flavor != "plain"} opq=${flavor == "opq"} " +
          s"opqDense=${flavor == "opq-dense"} codes + codebooks + " +
          s"centroids -> $outDir")
    },

    // incrementally append new vectors to a persisted PQ index: frozen
    // codebooks/centroids, probe-metric cell assignment, idempotent
    cmd("pq-append", "<idxDir> <embeddings> [m] [dim]") {
      case idxPath :: corpus :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val m = nums.headOption.map(_.toInt).getOrElse(4)
        val dim = nums.drop(1).headOption.map(_.toInt).getOrElse(64)
        val emb = spark.read.parquet(corpus)
        graft.sim.SimSearch.appendToPqIndex(emb, idxPath, "vec_id",
          "embedding", m, dim)
        val n = graft.sim.SimSearch.readPqIndex(spark, idxPath).codes
          .select("vec_id").distinct().count()
        println(s"[pq-append] index now holds $n vectors -> $idxPath")
    },

    // tombstone-delete ids from a persisted PQ index (an ids-only
    // parquet with a vec_id column — e.g. the removal-audit artifact)
    cmd("pq-delete", "<idxDir> <idsParquet> [retain]") {
      case idxPath :: idsPath :: rest => spark =>
        val retain = rest.headOption.map(_.toInt).getOrElse(1)
        val ids = spark.read.parquet(idsPath).select("vec_id")
        graft.sim.SimSearch.deleteFromPqIndex(ids, idxPath, retain)
        val n = graft.sim.SimSearch.readPqIndex(spark, idxPath).codes
          .select("vec_id").distinct().count()
        println(s"[pq-delete] tombstoned ${ids.distinct().count()} ids; " +
          s"index now serves $n vectors -> $idxPath")
    },

    // fold accumulated tombstones (and append small-files) into a
    // fresh compacted codes generation
    cmd("pq-compact", "<idxDir> [retain]") {
      case idxPath :: rest => spark =>
        val retain = rest.headOption.map(_.toInt).getOrElse(1)
        graft.sim.SimSearch.compactPqIndex(spark, idxPath, retain)
        val n = graft.sim.SimSearch.readPqIndex(spark, idxPath).codes
          .select("vec_id").distinct().count()
        println(s"[pq-compact] compacted codes generation holds $n " +
          s"vectors -> $idxPath")
    },

    // takedown: tombstone ids out of every given index family in one
    // call and print the per-id audit certificate
    Command("takedown", "<idsParquet> [--id col] [--bm25 dir] [--ann dir] " +
        "[--pq dir] [--pq-id col] [--signed dir] [--pool dir] " +
        "[--retain n]") {
      case idsPath :: rest => spark =>
        val retain = flag(rest, "--retain").map(_.toInt).getOrElse(1)
        val idCol = flag(rest, "--id").getOrElse("doc_id")
        val audit = graft.operators.Takedown(spark,
          spark.read.parquet(idsPath), idCol,
          bm25Path = flag(rest, "--bm25"), annPath = flag(rest, "--ann"),
          pqPath = flag(rest, "--pq"), pqIdCol = flag(rest, "--pq-id"),
          signedPath = flag(rest, "--signed"),
          poolPath = flag(rest, "--pool"), retain = retain)
        val rows = audit.collect()
        val gone = rows.forall(r => audit.columns.zipWithIndex.collect {
          case (c, i) if c.startsWith("gone_") => r.getBoolean(i)
        }.forall(identity))
        rows.take(10).foreach(r => println(s"[takedown] $r"))
        println(s"[takedown] ${rows.length} targets, certificate " +
          (if (gone) "CLEAN (all gone)" else "FAILED (still serving!)"))
        if (gone) 0 else 3
    },

    // index-freshness drift: corpus ids vs a persisted BM25 index's
    // live ids (use the library API for the other families)
    cmd("index-drift", "<corpusParquet> <bm25Dir> [idCol]") {
      case corpusPath :: bm25Dir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val idCol = rest.headOption.getOrElse("doc_id")
        val r = graft.operators.Diagnose.indexDriftReport(
          spark.read.parquet(corpusPath).select(col(idCol)),
          graft.text.Bm25.bm25IndexIds(spark, bm25Dir, idCol),
          idCol).head()
        println(s"[index-drift] corpus=${r.getLong(0)} " +
          s"index=${r.getLong(1)} missing=${r.getLong(2)} " +
          s"extra=${r.getLong(3)}")
    },

    // measure-and-FIX drift for the doc-corpus families: extras
    // tombstone out, missing re-append, re-audit must read zero
    // (vector families: the DriftRepair library API)
    Command("drift-repair", "<corpusParquet> [--id col] [--text col] " +
        "[--bm25 dir] [--signed dir] [--retain n]") {
      case corpusPath :: rest => spark =>
        val idCol = flag(rest, "--id").getOrElse("doc_id")
        val textCol = flag(rest, "--text").getOrElse("text")
        val retain = flag(rest, "--retain").map(_.toInt).getOrElse(1)
        val rep = graft.operators.DriftRepair(spark,
          docCorpus = Some(spark.read.parquet(corpusPath)),
          docIdCol = idCol, textCol = textCol,
          bm25Path = flag(rest, "--bm25"), signedPath = flag(rest, "--signed"),
          retain = retain).collect()
        rep.foreach(r => println(s"[drift-repair] ${r.getString(0)}: " +
          s"corpus=${r.getLong(1)} index=${r.getLong(2)} " +
          s"missing=${r.getLong(3)} extra=${r.getLong(4)} -> " +
          s"after missing=${r.getLong(5)} extra=${r.getLong(6)}"))
        val clean = rep.forall(r =>
          r.getLong(5) == 0L && r.getLong(6) == 0L)
        println(s"[drift-repair] " +
          (if (clean) "CLEAN (zero residual drift)"
           else "FAILED (residual drift!)"))
        if (clean) 0 else 3
    },

    // marker-committed document pool: bootstrap / per-bucket upsert /
    // id-pruned physical remove / resolved read (gen = time travel)
    cmd("docpool-write", "<docsParquet> <poolRoot> [buckets] [idCol] [retain]") {
      case inPath :: poolRoot :: rest => spark =>
        val buckets = rest.headOption.map(_.toInt).getOrElse(64)
        val idCol = rest.lift(1).getOrElse("doc_id")
        val retain = rest.lift(2).map(_.toInt).getOrElse(1)
        graft.operators.DocPool.write(spark.read.parquet(inPath),
          poolRoot, idCol, buckets, retain)
        println(s"[docpool-write] committed " +
          s"${graft.operators.DocPool.read(spark, poolRoot).count()} " +
          s"rows into $poolRoot")
    },

    cmd("docpool-upsert", "<docsParquet> <poolRoot> [idCol] [retain]") {
      case inPath :: poolRoot :: rest => spark =>
        val idCol = rest.headOption.getOrElse("doc_id")
        val retain = rest.lift(1).map(_.toInt).getOrElse(1)
        graft.operators.DocPool.upsert(spark.read.parquet(inPath),
          poolRoot, idCol, retain)
        println(s"[docpool-upsert] pool now holds " +
          s"${graft.operators.DocPool.read(spark, poolRoot).count()} rows")
    },

    cmd("docpool-remove", "<idsParquet> <poolRoot> [idCol] [retain]") {
      case idsPath :: poolRoot :: rest => spark =>
        val idCol = rest.headOption.getOrElse("doc_id")
        val retain = rest.lift(1).map(_.toInt).getOrElse(1)
        graft.operators.DocPool.removeIds(spark,
          spark.read.parquet(idsPath), poolRoot, idCol, retain)
        println(s"[docpool-remove] pool now holds " +
          s"${graft.operators.DocPool.read(spark, poolRoot).count()} rows")
    },

    cmd("docpool-read", "<poolRoot> <outDir> [gen]") {
      case poolRoot :: outDir :: rest => spark =>
        val df = rest.headOption match {
          case Some(g) => graft.operators.DocPool.read(spark, poolRoot,
            g.toLong)
          case None => graft.operators.DocPool.read(spark, poolRoot)
        }
        df.write.mode("overwrite").parquet(outDir)
        println(s"[docpool-read] ${df.count()} rows -> $outDir " +
          s"(generations: ${graft.operators.DocPool
            .listGenerations(spark, poolRoot).mkString(",")})")
    },

    // the committed PQ snapshots still inside the retention window
    cmd("pq-generations", "<idx>") {
      case idxPath :: Nil => spark =>
        val gens = graft.sim.SimSearch.pqGenerations(spark, idxPath)
        println(s"[pq-generations] ${gens.mkString(",")}")
    },

    // serve top-k from a persisted IVF-PQ index (codes only — raw
    // vectors are never read)
    cmd("pq-query", "<idxDir> <queries> <outDir> [k] [m] [nprobe] [dim] " +
        "[--refine <rawEmb> [c]]") {
      case idxPath :: queries :: outDir :: rest => spark =>
        // positional numbers end where --refine (and its operands) begin
        val nums = {
          val r = rest.indexOf("--refine")
          (if (r >= 0) rest.take(r) else rest).filter(!_.startsWith("--"))
        }
        val k = nums.headOption.map(_.toInt).getOrElse(10)
        val m = nums.drop(1).headOption.map(_.toInt).getOrElse(4)
        val nprobe = nums.drop(2).headOption.map(_.toInt).getOrElse(2)
        val dim = nums.drop(3).headOption.map(_.toInt).getOrElse(64)
        // serving must run in the frame the codes were written in
        val idx = graft.sim.SimSearch.readPqIndex(spark, idxPath)
        val q = spark.read.parquet(queries)
        // --refine <rawEmbeddings> [candidates]: exact re-rank of the
        // ADC top-candidates against the raw vectors (IVFADC-R)
        val refine = flag(rest, "--refine")
        // a bare --refine must not silently degrade to unrefined ADC —
        // the user asked for exact re-rank and would get lossy neighbors
        require(!rest.contains("--refine") || refine.nonEmpty,
          "--refine requires the raw embeddings path: " +
            "--refine <rawEmb> [candidates]")
        // the candidate count, when given, follows the raw path
        val c = refine.flatMap(flag(rest, _)).map(_.toInt).getOrElse(4 * k)
        require(refine.isEmpty || c >= k, s"candidates=$c must be >= k=$k")
        val adc = graft.sim.SimSearch.ivfPqTopK(idx.codes, idx.codebooks,
          idx.centroids, q, "vec_id", "embedding", "vec_id", m,
          if (refine.isEmpty) k else c, nprobe, dim, idx.frame)
        val hits = refine.fold(adc)(rawPath =>
          graft.sim.SimSearch.rerankExact(adc, q,
            spark.read.parquet(rawPath), "vec_id", "embedding", "vec_id", k))
        hits.write.mode("overwrite").parquet(outDir)
        val n = spark.read.parquet(outDir).count()
        println(s"[pq-query] ${q.count()} queries x top-$k " +
          s"(nprobe=$nprobe, refine=${refine.nonEmpty}, " +
          s"residual=${idx.frame.dir.nonEmpty}, " +
          s"opq=${idx.frame.dir.contains("perm")}) -> $n hits " +
          s"-> $outDir")
    },

    cmd("ann-eval", "<embeddings> [k] [planes] [probeBits] [dim] [sampleMod]") {
      case corpus :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val nums = rest.filter(!_.startsWith("--"))
        val k = nums.headOption.map(_.toInt).getOrElse(10)
        val planes = nums.drop(1).headOption.map(_.toInt).getOrElse(12)
        val probeBits = nums.drop(2).headOption.map(_.toInt).getOrElse(1)
        val dim = nums.drop(3).headOption.map(_.toInt).getOrElse(64)
        val sampleMod = nums.drop(4).headOption.map(_.toLong).getOrElse(50L)
        val emb = spark.read.parquet(corpus)
        // sampled query set: every sampleMod-th id — deterministic, and
        // the brute-force baseline cost stays (n/sampleMod) × corpus
        val pred = col("vec_id") % sampleMod === 0
        val exact = graft.sim.SimSearch.bruteForceTopK(emb, "vec_id",
          "embedding", pred, k).localCheckpoint()
        val approx = graft.sim.SimSearch.annTopK(emb, "vec_id", "embedding",
          pred, k, planes, dim, probeBits)
        val row = graft.sim.SimSearch.recallSummary(approx, exact, k)
          .collect()(0)
        println(s"[ann-eval] recall@$k over ${row.getLong(0)} sampled " +
          s"queries (planes=$planes probeBits=$probeBits): " +
          s"mean=${row.getDouble(1)} min=${row.getDouble(2)}")
    },

    // PQ acceptance report: recall@k of raw-code ADC, residual ADC,
    // and residual+re-rank against the brute-force baseline — the
    // numbers to read before trusting an index build
    cmd("pq-eval", "<embeddings> [k] [m] [kcb] [nprobe] [dim] [sampleMod] [--cell=<col>]") {
      case corpus :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val nums = rest.filter(!_.startsWith("--"))
        val k = nums.headOption.map(_.toInt).getOrElse(10)
        val m = nums.drop(1).headOption.map(_.toInt).getOrElse(4)
        val kcb = nums.drop(2).headOption.map(_.toInt).getOrElse(16)
        val nprobe = nums.drop(3).headOption.map(_.toInt).getOrElse(2)
        val dim = nums.drop(4).headOption.map(_.toInt).getOrElse(64)
        val sampleMod = nums.drop(5).headOption.map(_.toLong).getOrElse(50L)
        val cellCol = rest.find(_.startsWith("--cell="))
          .map(_.stripPrefix("--cell=")).getOrElse("label")
        val S = graft.sim.SimSearch
        val emb = spark.read.parquet(corpus).withColumn("cell", col(cellCol))
        val pred = col("vec_id") % sampleMod === 0
        val queries = emb.filter(pred)
        val exact = S.bruteForceTopK(emb, "vec_id", "embedding", pred, k)
          .localCheckpoint()
        val cen = S.ivfCentroids(emb, "vec_id", "embedding", "cell",
          dim).localCheckpoint()
        val cells = emb.select(col("vec_id"), col("cell"))
        def summary(approx: org.apache.spark.sql.DataFrame) = {
          // ADC/refined include the query itself; brute force excludes
          // it — search k+1 and drop self so the comparison is fair
          val row = S.recallSummary(
            approx.filter(col("qid") =!= col("neighbor")), exact, k)
            .collect()(0)
          f"mean=${row.getDouble(1)}%.4f min=${row.getDouble(2)}%.4f " +
            s"(n=${row.getLong(0)})"
        }
        val cbRaw = S.pqFit(emb, "vec_id", "embedding", m, kcb, 2, dim)
          .localCheckpoint()
        val codesRaw = S.pqEncode(emb, cbRaw, "vec_id", "embedding", m,
          dim).join(cells, Seq("vec_id"))
        println(s"[pq-eval] raw-code ADC      recall@$k: " + summary(
          S.ivfPqTopK(codesRaw, cbRaw, cen, queries, "vec_id",
            "embedding", "vec_id", m, k + 1, nprobe, dim)))
        val res = S.PqFrame.Residual(cen)
        val cbRes = S.pqFit(emb, "vec_id", "embedding", m, kcb, 2, dim,
          frame = res).localCheckpoint()
        val codesRes = S.pqEncode(emb, cbRes, "vec_id", "embedding", m,
          dim, res).join(cells, Seq("vec_id"))
        def residualAdc(n: Int) = S.ivfPqTopK(codesRes, cbRes, cen,
          queries, "vec_id", "embedding", "vec_id", m, n, nprobe, dim, res)
        println(s"[pq-eval] residual ADC      recall@$k: " +
          summary(residualAdc(k + 1)))
        println(s"[pq-eval] residual+re-rank  recall@$k: " + summary(
          S.rerankExact(residualAdc(4 * k), queries, emb, "vec_id",
            "embedding", "vec_id", k + 1)))
    },

    cmd("semdedup", "<embeddings> <outDir> [k] [threshold] [dim] [cellCap]") {
      case corpus :: outDir :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val k = nums.headOption.map(_.toInt).getOrElse(256)
        val threshold = nums.drop(1).headOption.map(_.toDouble).getOrElse(0.95)
        val dim = nums.drop(2).headOption.map(_.toInt).getOrElse(64)
        val cellCap = nums.drop(3).headOption.map(_.toLong)
          .getOrElse(1L << 20)
        val emb = spark.read.parquet(corpus) // (vec_id, embedding) columns
        val kept = graft.sim.SimSearch.semDedup(emb, "vec_id", "embedding",
          k = k, iters = 2, threshold = threshold, dim = dim,
          cellCap = cellCap)
        kept.write.mode("overwrite").parquet(outDir)
        println(s"[semdedup] ${emb.count()} vectors -> ${kept.count()} " +
          s"kept (k=$k threshold=$threshold cellCap=$cellCap) -> $outDir")
    },

    // streaming near-dedup of JSONL drops against a growing signed
    // index: new files under <inDir> process as micro-batches, each
    // deduped within itself and against everything already accepted
    // incremental funnel over JSONL event drops: drains current files
    // (AvailableNow), folds them into the per-user stage state, prints
    // the report off the state table
    cmd("funnel-stream", "<inDir> <statePath> <checkpoint> <stage,stage,...> [maxGapMin]") {
      case inDir :: statePath :: ckpt :: stagesCsv :: rest => spark =>
        val maxGap = rest.headOption.map(_.toLong)
        val stages = stagesCsv.split(",").toSeq
        val stream = spark.readStream
          .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
            "event_type STRING, value DOUBLE, props STRING")
          .json(inDir)
        val q = graft.streaming.StreamingFunnel.start(stream, statePath,
          ckpt, stages, maxGapMinutes = maxGap)
        q.awaitTermination() // AvailableNow: drains current files, stops
        graft.streaming.StreamingFunnel.report(spark, statePath, stages)
          .orderBy("stage_idx").collect().foreach { r =>
            println(s"[funnel-stream] ${r.getInt(0)} ${r.getString(1)}: " +
              s"${r.getLong(2)} users (${r.getDouble(3)})")
          }
    },

    // read-side twin of funnel-stream: conversion counts + latency
    // percentiles off the persisted state, no event rescan
    cmd("funnel-report", "<statePath> <stage,stage,...> [k]") {
      case statePath :: stagesCsv :: rest => spark =>
        val stages = stagesCsv.split(",").toSeq
        val k = rest.headOption.map(_.toInt).getOrElse(256)
        graft.streaming.StreamingFunnel.report(spark, statePath, stages)
          .orderBy("stage_idx").collect().foreach { r =>
            println(s"[funnel-report] ${r.getInt(0)} ${r.getString(1)}: " +
              s"${r.getLong(2)} users (${r.getDouble(3)})")
          }
        graft.streaming.StreamingFunnel
          .latencyReport(spark, statePath, stages, k)
          .orderBy("stage_idx").collect().foreach { r =>
            println(s"[funnel-report] ${r.getInt(0)} ${r.getString(1)}: " +
              s"n=${r.getLong(2)} m=${r.getInt(3)} " +
              s"p50_gap=${r.get(4)}s p90_gap=${r.get(5)}s")
          }
    },

    // streaming sessionization twin: drain events into the bucketed
    // per-user session state, then print the largest sessions
    cmd("sessions-stream", "<inDir> <state> <ckpt> [gapMin]") {
      case inDir :: statePath :: ckpt :: rest => spark =>
        val gap = rest.headOption.map(_.toInt).getOrElse(30)
        val stream = spark.readStream
          .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
            "event_type STRING, value DOUBLE, props STRING")
          .json(inDir)
        val q = graft.streaming.StreamingSessions.start(stream, statePath,
          ckpt, gapMinutes = gap)
        q.awaitTermination() // AvailableNow: drains current files, stops
        graft.streaming.StreamingSessions.report(spark, statePath)
          .orderBy(org.apache.spark.sql.functions.col("n_events").desc)
          .limit(5).collect().foreach { r =>
            println(s"[sessions-stream] user=${r.get(0)} " +
              s"seq=${r.getLong(1)} n=${r.getLong(4)} " +
              s"span=${r.getLong(3) - r.getLong(2)}s")
          }
    },

    // read-side twin: all sessions off the persisted state
    cmd("sessions-report", "<state> <out>") {
      case statePath :: outDir :: Nil => spark =>
        graft.streaming.StreamingSessions.report(spark, statePath)
          .write.mode("overwrite").parquet(outDir)
        println(s"[sessions-report] -> $outDir")
    },

    cmd("dedup-stream", "<inDir> <idxDir> <outDir> <checkpoint>") {
      case inDir :: idxPath :: outDir :: ckpt :: rest => spark =>
        val stream = spark.readStream
          .schema("doc_id BIGINT, text STRING")
          .json(inDir)
        val q = graft.streaming.StreamingDedup.start(stream, idxPath,
          outDir, ckpt, "text", "doc_id")
        q.awaitTermination() // AvailableNow: drains current files, stops
        val n = spark.read.parquet(outDir).count()
        println(s"[dedup-stream] $inDir -> $n total survivors in $outDir " +
          s"(index: $idxPath)")
    },

    cmd("split", "<corpus> <outDir> [seed] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        val seed = rest.find(!_.startsWith("--")).map(_.toLong).getOrElse(13L)
        val docs = loadCorpus(spark, corpus, rest)
        val labeled = graft.operators.Relational.hashSplit(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed)
        labeled.write.mode("overwrite").partitionBy("split").parquet(outDir)
        println(s"[split] ${docs.count()} docs -> 80/10/10 by split= " +
          s"(seed $seed) -> $outDir")
    },

    cmd("mix", "<corpus> <outDir> [budget] [seed] [--jsonl] " +
        "[--simple-tokens] [--alpha A | --unimax E]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val nums = rest.filter(!_.startsWith("--"))
        val budget = nums.headOption.map(_.toLong).getOrElse(1000000L)
        val seed = nums.drop(1).headOption.map(_.toLong).getOrElse(17L)
        val docs = loadCorpus(spark, corpus, rest)
        val cls = if (docs.columns.contains("lang")) col("lang")
          else lit("all")
        val base = docs.select(cls.as("lang"), col("doc_id"),
          size(tokenizerFor(rest)(col("text"))).as("n_tokens"))
        // --alpha A: temperature mixing — budget is the TOTAL token
        // budget split across classes ∝ T_c^alpha; without it, budget is
        // a flat per-class token quota
        val alphaOpt = flag(rest, "--alpha").map(_.toDouble)
        // --unimax E: epoch-capped waterfill of the TOTAL budget
        val unimaxOpt = flag(rest, "--unimax").map(_.toInt)
        val quota = (alphaOpt, unimaxOpt) match {
          case (_, Some(e)) => graft.operators.Relational.unimaxTokenSample(
            base, "lang", "doc_id", "n_tokens", budget, e, seed)
          case (Some(a), _) => graft.operators.Relational.temperatureTokenSample(
            base, "lang", "doc_id", "n_tokens", a, budget, seed)
          case _ => graft.operators.Relational.tokenQuotaSample(
            base, "lang", "doc_id", "n_tokens", budget, seed)
        }
        val kept = docs.join(quota.select("doc_id"), Seq("doc_id"),
          "left_semi")
        Export.jsonl(kept, outDir)
        val budgetDesc = alphaOpt
          .map(a => s"~$budget tokens total, alpha=$a")
          .getOrElse(s"~$budget tokens/class")
        println(s"[mix] ${docs.count()} docs -> ${kept.count()} kept " +
          s"($budgetDesc, seed $seed) -> $outDir")
    },

    cmd("pack", "<corpus> <outDir> [budget] [--jsonl] [--simple-tokens]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val budget = rest.find(!_.startsWith("--")).map(_.toLong)
          .getOrElse(4096L)
        val docs = loadCorpus(spark, corpus, rest)
        // class column: lang when present, else one global class
        val cls = if (docs.columns.contains("lang")) col("lang")
          else lit("all")
        val base = docs.select(cls.as("lang"), col("doc_id"), col("text"),
          size(tokenizerFor(rest)(col("text"))).as("n_tokens"))
        val shards = graft.operators.Relational.tokenShards(
          base.select("lang", "doc_id", "n_tokens"),
          "lang", "doc_id", "n_tokens", budget)
        val packed = graft.operators.Relational.packShards(
          shards, base.select("doc_id", "text"), "lang", "doc_id", "text")
        Export.jsonl(packed, outDir)
        println(s"[pack] ${docs.count()} docs -> ${packed.count()} " +
          s"sequences (budget=$budget) -> $outDir")
    },

    cmd("tfidf", "<corpus> <outDir> [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        val scored = graft.text.TextOps.tfidf(
          loadCorpus(spark, corpus, rest), "text", "doc_id")
        Export.jsonl(scored, outDir)
        println(s"[tfidf] ${scored.count()} (doc, term) scores -> $outDir")
    },

    cmd("sample", "<corpus> <outDir> [n] [seed] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.{col, length}
        val n = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(1000)
        val seed = rest.filter(!_.startsWith("--"))
          .drop(1).headOption.map(_.toLong).getOrElse(42L)
        val docs = loadCorpus(spark, corpus, rest)
        // quality-weighted (priority) sample: longer docs more likely
        val kept = graft.operators.Relational.prioritySample(
          docs, "doc_id", length(col("text")).cast("double"), n, seed)
        Export.jsonl(kept, outDir)
        println(s"[sample] $n docs (seed $seed, length-weighted) -> $outDir")
    },

    // Gopher-rules quality filter: keep docs passing all rules, or
    // dump the full per-doc report with --report
    cmd("gopher", "<corpus> <outDir> [minWords] [--report] [--jsonl] [--simple-tokens]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val minWords = rest.find(!_.startsWith("--"))
          .map(_.toInt).getOrElse(50)
        val docs = loadCorpus(spark, corpus, rest)
        val scored = docs.withColumn("g", graft.text.TextOps.gopherRules(
          col("text"), tokenizer = tokenizerFor(rest), minWords = minWords))
        val out =
          if (rest.contains("--report")) scored.select(col("doc_id"),
            col("g.*"))
          else scored.filter(col("g.pass")).drop("g")
        Export.jsonl(out, outDir)
        println(s"[gopher] ${docs.count()} docs -> ${out.count()} " +
          s"${if (rest.contains("--report")) "reports" else "kept"} " +
          s"(minWords=$minWords) -> $outDir")
    },

    // DSIR selection: weight the corpus toward a target set, keep docs
    // with positive importance (or dump weights with --report)
    cmd("dsir", "<corpus> <target> <outDir> [buckets] [--report] [--jsonl] [--simple-tokens]") {
      case corpus :: targetPath :: outDir :: rest => spark =>
        val buckets = rest.find(!_.startsWith("--"))
          .map(_.toInt).getOrElse(4096)
        val docs = loadCorpus(spark, corpus, rest)
        val target = loadCorpus(spark, targetPath, rest)
        val w = graft.text.Dsir.importanceWeights(docs, target,
          "text", "doc_id", buckets, tokenizerFor(rest))
        val out =
          if (rest.contains("--report")) w
          else docs.join(w.filter(org.apache.spark.sql.functions
            .col("selected")).select("doc_id"), "doc_id")
        Export.jsonl(out, outDir)
        println(s"[dsir] ${docs.count()} docs -> ${out.count()} " +
          s"${if (rest.contains("--report")) "weights" else "kept"} " +
          s"(buckets=$buckets) -> $outDir")
    },

    // CCNet-style perplexity scores: bigram NLL of every doc under a
    // hashed LM fit on the target corpus (low avg_nll = target-like)
    cmd("ppl", "<corpus> <target> <outDir> [buckets] [--jsonl] [--simple-tokens]") {
      case corpus :: targetPath :: outDir :: rest => spark =>
        val buckets = rest.find(!_.startsWith("--"))
          .map(_.toInt).getOrElse(4096)
        val docs = loadCorpus(spark, corpus, rest)
        val target = loadCorpus(spark, targetPath, rest)
        val scored = graft.text.NgramLm.bigramNll(docs, target,
          "text", "doc_id", buckets, tokenizerFor(rest))
        Export.jsonl(scored, outDir)
        println(s"[ppl] ${docs.count()} docs scored " +
          s"(buckets=$buckets) -> $outDir")
    },

    // crawl front door: WARC responses -> HTML -> clean text corpus
    cmd("warc-ingest", "<warcGlob> <outDir> [maxPayloadBytes]") {
      case glob :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val maxPayload = rest.filter(!_.startsWith("--")).headOption
          .map(_.toInt).getOrElse(8 * 1024 * 1024)
        val docs = graft.sources.Warc.readResponses(spark, glob, maxPayload)
          .select(xxhash64(col("file"), col("idx")).as("doc_id"),
            col("target_uri"), col("warc_date"),
            graft.text.TextOps.htmlToText(col("html")).as("text"))
        docs.write.mode("overwrite").parquet(outDir)
        println(s"[warc-ingest] ${spark.read.parquet(outDir).count()} " +
          s"pages -> $outDir")
    },

    // WET flavor: Common Crawl pre-extracted text -> parquet corpus
    cmd("wet-ingest", "<wetGlob> <outDir> [maxPayloadBytes]") {
      case glob :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val maxPayload = rest.filter(!_.startsWith("--")).headOption
          .map(_.toInt).getOrElse(8 * 1024 * 1024)
        graft.sources.Warc.readConversions(spark, glob, maxPayload)
          .select(xxhash64(col("file"), col("idx")).as("doc_id"),
            col("target_uri"), col("warc_date"), col("text"))
          .write.mode("overwrite").parquet(outDir)
        println(s"[wet-ingest] ${spark.read.parquet(outDir).count()} " +
          s"pages -> $outDir")
    },

    // decode a (doc_id, media binary) parquet of WAV/AIFF/AU audio
    // with the JDK's javax.sound.sampled; emits PCM metadata + RMS
    cmd("decode-audio", "<parquet> <outDir>") {
      case corpus :: outDir :: rest => spark =>
        val dec = graft.multimodal.Multimodal.decodeAudio(
          spark.read.parquet(corpus))
        dec.write.mode("overwrite").parquet(outDir)
        val all = spark.read.parquet(outDir)
        val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
        println(s"[decode-audio] ${all.count()} items, $ok decoded -> $outDir")
    },

    // MP3 frame-header metadata over a (doc_id, media binary) parquet:
    // duration/bitrate/sample-rate/CBR-VBR without a codec dependency
    cmd("mp3-meta", "<parquet> <outDir>") {
      case corpus :: outDir :: rest => spark =>
        val dec = graft.multimodal.Multimodal.mp3Meta(
          spark.read.parquet(corpus))
        dec.write.mode("overwrite").parquet(outDir)
        val all = spark.read.parquet(outDir)
        val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
        println(s"[mp3-meta] ${all.count()} items, $ok parsed -> $outDir")
    },

    cmd("exif", "<parquet> <outDir>") {
      case corpus :: outDir :: rest => spark =>
        val dec = graft.multimodal.Multimodal.exifMeta(
          spark.read.parquet(corpus))
        dec.write.mode("overwrite").parquet(outDir)
        val all = spark.read.parquet(outDir)
        val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
        println(s"[exif] ${all.count()} items, $ok with EXIF -> $outDir")
    },

    cmd("mp4-meta", "<parquet> <outDir>") {
      case corpus :: outDir :: rest => spark =>
        val dec = graft.multimodal.Multimodal.mp4Meta(
          spark.read.parquet(corpus))
        dec.write.mode("overwrite").parquet(outDir)
        val all = spark.read.parquet(outDir)
        val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
        println(s"[mp4-meta] ${all.count()} items, $ok parsed -> $outDir")
    },

    // Matroska/WebM container metadata (EBML walk, no codec)
    cmd("mkv-meta", "<parquet> <out>") {
      case corpus :: outDir :: rest => spark =>
        val dec = graft.multimodal.Multimodal.mkvMeta(
          spark.read.parquet(corpus))
        dec.write.mode("overwrite").parquet(outDir)
        val all = spark.read.parquet(outDir)
        val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
        println(s"[mkv-meta] ${all.count()} items, $ok parsed -> $outDir")
    },

    cmd("flac-meta", "<parquet> <out>") {
      case corpus :: outDir :: rest => spark =>
        val dec = graft.multimodal.Multimodal.flacMeta(
          spark.read.parquet(corpus))
        dec.write.mode("overwrite").parquet(outDir)
        val all = spark.read.parquet(outDir)
        val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
        println(s"[flac-meta] ${all.count()} items, $ok parsed -> $outDir")
    },

    cmd("ogg-meta", "<parquet> <out>") {
      case corpus :: outDir :: rest => spark =>
        val dec = graft.multimodal.Multimodal.oggMeta(
          spark.read.parquet(corpus))
        dec.write.mode("overwrite").parquet(outDir)
        val all = spark.read.parquet(outDir)
        val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
        println(s"[ogg-meta] ${all.count()} items, $ok parsed -> $outDir")
    },

    // decode a (doc_id, media binary) parquet with the JDK ImageIO
    // codecs (JPEG/PNG/GIF/BMP); emits metadata + channel means
    cmd("decode-image", "<parquet> <outDir>") {
      case corpus :: outDir :: rest => spark =>
        val df = spark.read.parquet(corpus)
        val dec = graft.multimodal.Multimodal.decodeImage(df)
        dec.write.mode("overwrite").parquet(outDir)
        val ok = spark.read.parquet(outDir)
          .filter(org.apache.spark.sql.functions.col("ok")).count()
        val total = spark.read.parquet(outDir).count()
        println(s"[decode-image] $total items, $ok decoded -> $outDir")
    },

    // BM25 retrieval: space-separated query terms against the corpus
    cmd("bm25", "<corpus> <outDir> \"<terms>\" [k] [--jsonl]") {
      case corpus :: outDir :: query :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val k = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(10)
        import spark.implicits._
        val docs = loadCorpus(spark, corpus, rest)
        val terms = query.trim.split("\\s+").toSeq.distinct
          .map(t => (1L, t)).toDF("query_id", "term")
        val hits = graft.text.Bm25.search(docs, "text", "doc_id",
          terms, "query_id", k = k)
          .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
          .orderBy(col("rank"))
        Export.jsonl(hits, outDir)
        println(s"[bm25] '$query' top-$k -> ${hits.count()} hits -> $outDir")
    },

    // exact phrase retrieval via the positional inverted index
    cmd("phrase", "<corpus> <outDir> \"<exact phrase>\" [--jsonl]") {
      case corpus :: outDir :: phrase :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val docs = loadCorpus(spark, corpus, rest)
        val terms = phrase.trim.split("\\s+").toSeq
        val hits = graft.text.Bm25.phraseSearchDocs(
          docs, "text", "doc_id", terms)
          .orderBy(col("n_matches").desc, col("doc_id"))
        Export.jsonl(hits, outDir)
        println(s"[phrase] '$phrase' -> ${hits.count()} docs -> $outDir")
    },

    // learn a BPE merge table from the corpus (prints + writes parquet).
    // Default: the driver fast path (one corpus scan, all rounds in
    // memory — the realistic shape for 16+ merges); --distributed runs
    // one Spark job per round (for vocabularies beyond driver memory)
    cmd("bpe-learn", "<corpus> <outDir> [rounds] [--jsonl] [--distributed]") {
      case corpus :: outDir :: rest => spark =>
        val rounds = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(16)
        val corpusDf = loadCorpus(spark, corpus, rest)
        val merges =
          if (rest.contains("--distributed"))
            graft.text.TextOps.learnBpeMerges(corpusDf, "text", rounds)
          else
            graft.text.TextOps.learnBpeMergesLocal(corpusDf, "text", rounds)
        merges.coalesce(1).write.mode("overwrite").parquet(outDir)
        merges.collect().foreach { r =>
          println(s"[bpe-learn] ${r.getInt(0)}: '${r.getString(1)}' + " +
            s"'${r.getString(2)}' (${r.getLong(3)})")
        }
    },

    // train the NB log-odds quality classifier from a weak label
    // column; writes the distributed (token, weight_micro) table
    cmd("train", "<corpus> <labelCol> <labelValue> <outDir> [minCount] [--jsonl]") {
      case corpus :: labelCol :: labelValue :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val minCount = rest.filter(!_.startsWith("--")).headOption
          .map(_.toInt).getOrElse(1)
        val df = loadCorpus(spark, corpus, rest)
        val w = graft.text.Classifier.trainNaiveBayes(df, "text",
          col(labelCol) === labelValue, minCount = minCount)
        w.write.mode("overwrite").parquet(outDir)
        val saved = spark.read.parquet(outDir)
        println(s"[train] ${saved.count()} weights (minCount=$minCount) " +
          s"-> $outDir")
        saved.orderBy(abs(col("weight_micro")).desc, col("token"))
          .limit(10).collect().foreach { r =>
            println(f"[train]   ${r.getString(0)}%-20s " +
              f"${r.getLong(1) / 1e6}%+.6f")
          }
    },

    // persisted BM25 inverted index: build (bucket-partitioned
    // postings + stats delta + frozen meta)
    cmd("bm25-index", "<corpus> <outDir> [buckets] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        val buckets = rest.filter(!_.startsWith("--")).headOption
          .map(_.toInt).getOrElse(64)
        val df = loadCorpus(spark, corpus, rest)
        graft.text.Bm25.writeBm25Index(df, "text", "doc_id", outDir,
          buckets)
        val n = spark.read.parquet(s"$outDir/stats")
          .agg(org.apache.spark.sql.functions.sum("n_docs")).head().get(0)
        println(s"[bm25-index] $n docs indexed into $buckets buckets " +
          s"-> $outDir")
    },

    // append NEW documents to a persisted BM25 index
    cmd("bm25-append", "<corpus> <indexDir> [--jsonl]") {
      case corpus :: indexDir :: rest => spark =>
        val df = loadCorpus(spark, corpus, rest)
        graft.text.Bm25.appendToBm25Index(df, "text", "doc_id", indexDir)
        val n = spark.read.parquet(s"$indexDir/stats")
          .agg(org.apache.spark.sql.functions.sum("n_docs")).head().get(0)
        println(s"[bm25-append] index now covers $n docs")
    },

    // serve top-k from a persisted BM25 index (bucket-pruned read)
    cmd("bm25-query", "<indexDir> <term1,term2,...> [k] [--gen=N]") {
      case indexDir :: terms :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val k = rest.filter(!_.startsWith("--")).headOption
          .map(_.toInt).getOrElse(10)
        val gen = rest.find(_.startsWith("--gen="))
          .map(_.stripPrefix("--gen=").toLong)
        import spark.implicits._
        val queries = terms.split(',').toSeq.map(t => (1L, t))
          .toDF("query_id", "term")
        graft.text.Bm25.topKFromIndex(spark, indexDir, queries,
          "query_id", "doc_id", k, atGen = gen)
          .orderBy(col("rank")).collect()
          .foreach { r =>
            println(s"[bm25-query] rank=${r.getAs[Int]("rank")} " +
              s"doc=${r.get(1)} score_pico=${r.getAs[Long]("score_pico")}")
          }
    },

    // list the BM25 index snapshots still inside the retention window
    cmd("bm25-generations", "<indexDir>") {
      case indexDir :: Nil => spark =>
        val gens = graft.text.Bm25.bm25Generations(spark, indexDir)
        println(s"[bm25-generations] ${gens.mkString(",")}")
    },

    // delete documents from a persisted BM25 index (tombstones +
    // one negative stats delta; nothing rewritten)
    cmd("bm25-delete", "<idsParquet> <indexDir> [idCol] [retain]") {
      case idsPath :: indexDir :: rest => spark =>
        val idCol = rest.headOption.getOrElse("doc_id")
        val retain = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
        graft.text.Bm25.deleteFromBm25Index(
          spark.read.parquet(idsPath), indexDir, idCol, retain)
        val n = graft.text.Bm25.indexStats(spark, indexDir).head().get(0)
        println(s"[bm25-delete] index now covers $n live docs")
    },

    // compact a persisted BM25 index (rewrite minus tombstones)
    cmd("bm25-compact", "<indexDir> [idCol] [retain]") {
      case indexDir :: rest => spark =>
        val idCol = rest.headOption.getOrElse("doc_id")
        val retain = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
        graft.text.Bm25.compactBm25Index(spark, indexDir, idCol, retain)
        val n = graft.text.Bm25.indexStats(spark, indexDir).head().get(0)
        println(s"[bm25-compact] compacted to $n docs")
    },

    // A-ES weighted exact-n sample by an integer weight column
    cmd("wsample", "<parquet> <idCol> <wCol> <n> [seed]") {
      case path :: idCol :: wCol :: n :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val seed = rest.headOption.map(_.toLong).getOrElse(42L)
        val rows = graft.operators.Relational.weightedSample(
          spark.read.parquet(path), idCol, col(wCol), n.toInt, seed)
          .collect()
        rows.take(10).foreach { r =>
          println(s"[wsample] id=${r.get(0)} w=${r.getLong(1)} " +
            s"key_micro=${r.getLong(2)}")
        }
        println(s"[wsample] selected ${rows.length} of requested $n " +
          s"(seed=$seed)")
    },

    // one-row ECE/MCE/Brier calibration summary for a trained model
    cmd("calibration", "<corpus> <labelCol> <labelValue> <weightsDir> [--jsonl]") {
      case corpus :: labelCol :: labelValue ::
          weightsDir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val df = loadCorpus(spark, corpus, rest)
        val w = spark.read.parquet(weightsDir)
        val r = graft.text.Classifier.calibrationSummary(df, "text",
          "doc_id", col(labelCol) === labelValue, w).head()
        println(s"[calibration] n=${r.getLong(0)} " +
          s"ece_micro=${r.getLong(1)} mce_micro=${r.getLong(2)} " +
          s"brier_micro=${r.getLong(3)}")
    },

    // sketch-tier per-group quantiles of a numeric column
    cmd("quantiles", "<parquet> <keyCol> <valCol> [k]") {
      case path :: keyCol :: valCol :: rest => spark =>
        import org.apache.spark.sql.functions._
        val k = rest.headOption.map(_.toInt).getOrElse(256)
        val df = spark.read.parquet(path)
        val sk = df.groupBy(col(keyCol))
          .agg(graft.operators.Relational.bottomKSample(
            rowKeyHash(df, valCol),
            col(valCol), k).as("_sk"), count(lit(1)).as("n_rows"))
          .select(col(keyCol), col("n_rows"), size(col("_sk")).as("m"),
            graft.operators.Relational.sampleQuantile(col("_sk"), 0.5).as("p50"),
            graft.operators.Relational.sampleQuantile(col("_sk"), 0.9).as("p90"),
            graft.operators.Relational.sampleQuantile(col("_sk"), 0.99).as("p99"))
        sk.orderBy(col(keyCol)).collect().foreach { r =>
          println(s"[quantiles] ${r.get(0)}: n=${r.getLong(1)} " +
            s"m=${r.getInt(2)} p50=${r.getDouble(3)} " +
            s"p90=${r.getDouble(4)} p99=${r.getDouble(5)}")
        }
    },

    // sketch-tier robust outlier screen: one bounded-state pass
    cmd("outliers", "<parquet> <keyCol> <valCol> [k] [c]") {
      case path :: keyCol :: valCol :: rest => spark =>
        import org.apache.spark.sql.functions._
        val k = rest.headOption.map(_.toInt).getOrElse(256)
        val c = rest.drop(1).headOption.map(_.toDouble).getOrElse(3.0)
        val df = spark.read.parquet(path)
        graft.operators.Relational.robustOutliersApprox(df, Seq(keyCol),
          valCol, rowKeyHash(df, valCol), k, c)
          .orderBy(col(keyCol)).collect().foreach { r =>
            println(s"[outliers] ${r.get(0)}: n=${r.getLong(1)} " +
              s"m=${r.getInt(2)} median=${r.get(3)} mad=${r.get(4)} " +
              s"outliers_est=${r.get(5)}")
          }
    },

    // per-group embedding drift between two snapshot parquets
    cmd("emb-drift", "<oldEmb> <newEmb> <groupCol> [dim]") {
      case oldPath :: newPath :: groupCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val dim = rest.headOption.map(_.toInt).getOrElse(64)
        graft.sim.SimSearch.groupEmbeddingDrift(
          spark.read.parquet(oldPath), spark.read.parquet(newPath),
          "vec_id", "embedding", groupCol, dim)
          .orderBy(col(groupCol)).collect().foreach { r =>
            println(s"[emb-drift] ${r.get(0)}: n_old=${r.getLong(1)} " +
              s"n_new=${r.getLong(2)} mean_cos=${r.get(3)}")
          }
    },

    // referential-integrity orphan screen over one FK edge
    cmd("fk-audit", "<child> <childKey> <parent> <parentKey>") {
      case childPath :: childKey :: parentPath ::
          parentKey :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Diagnose.fkOrphanAudit(Seq(
          graft.operators.Diagnose.FkEdge(s"$childKey->$parentKey",
            spark.read.parquet(childPath), col(childKey),
            spark.read.parquet(parentPath), col(parentKey)))).head()
        println(s"[fk-audit] ${r.getString(0)}: n_child=${r.getLong(1)} " +
          s"n_null_key=${r.getLong(2)} n_orphan=${r.getLong(3)} " +
          s"orphan_rate=${r.get(4)}")
    },

    // SCD2 version history from a keyed changelog
    cmd("scd2", "<parquet> <keyCol> <tsCol> <tieCol> <attrCol> <outDir>") {
      case path :: keyCol :: tsCol :: tieCol :: attrCol ::
          outDir :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val hist = graft.operators.Relational.scd2History(
          spark.read.parquet(path), keyCol, col(tsCol), col(tieCol),
          col(attrCol))
        hist.write.mode("overwrite").parquet(outDir)
        val n = spark.read.parquet(outDir)
        println(s"[scd2] ${n.count()} versions " +
          s"(${n.filter(col("is_current")).count()} current) -> $outDir")
    },

    // keyed snapshot diff: added/removed/changed/unchanged + per-col
    cmd("snapshot-diff", "<old> <new> <keyCols,csv> <cmpCols,csv>") {
      case oldPath :: newPath :: keysCsv ::
          cmpCsv :: Nil => spark =>
        graft.operators.Relational.snapshotDiff(
          spark.read.parquet(oldPath), spark.read.parquet(newPath),
          keysCsv.split(',').toSeq, cmpCsv.split(',').toSeq)
          .collect().foreach { r =>
            println(s"[snapshot-diff] ${r.getString(0)}=${r.getLong(1)}")
          }
    },

    // per-group rank-sum ROC-AUC of a score against a 0/1 label
    cmd("roc-auc", "<parquet> <groupCol> <scoreCol> <labelCol>") {
      case path :: groupCol :: scoreCol :: labelCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        graft.operators.Relational.rocAucByGroup(
          spark.read.parquet(path), groupCol, col(scoreCol),
          col(labelCol))
          .orderBy(col(groupCol)).collect().foreach { r =>
            println(s"[roc-auc] ${r.get(0)}: n=${r.getLong(1)} " +
              s"pos=${r.getLong(2)} neg=${r.getLong(3)} auc=${r.get(4)}")
          }
    },

    // Cohen's kappa between two categorical columns
    cmd("kappa", "<parquet> <colA> <colB>") {
      case path :: colA :: colB :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.cohenKappa(
          spark.read.parquet(path), col(colA), col(colB)).head()
        println(s"[kappa] n=${r.getLong(0)} agree=${r.getLong(1)} " +
          s"po_micro=${r.getLong(2)} pe_micro=${r.getLong(3)} " +
          s"kappa=${r.get(4)}")
    },

    // OHLC bars over an exact-integer value column
    cmd("ohlc", "<parquet> <tsCol> <tieCol> <valCol> <outDir> [bucketSec]") {
      case path :: tsCol :: tieCol :: valCol :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val bucketSec = rest.headOption.map(_.toLong).getOrElse(86400L)
        val bars = graft.operators.Relational.ohlcBars(
          spark.read.parquet(path), col(tsCol), col(tieCol),
          col(valCol), bucketSec)
        bars.write.mode("overwrite").parquet(outDir)
        println(s"[ohlc] ${spark.read.parquet(outDir).count()} bars " +
          s"(bucket ${bucketSec}s) -> $outDir")
    },

    // Mann-Kendall monotone-trend screen over daily counts
    cmd("trend", "<events> <groupCol> [tsCol]") {
      case path :: groupCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.headOption.getOrElse("ts")
        graft.operators.TimeSeries.mannKendallTrend(
          graft.operators.TimeSeries.dailyCounts(
            spark.read.parquet(path), groupCol, col(tsCol)), groupCol)
          .orderBy(col(groupCol)).collect().foreach { r =>
            println(s"[trend] ${r.get(0)}: n_days=${r.getLong(1)} " +
              s"s=${r.getLong(2)} var18=${r.getLong(3)} " +
              s"z_micro=${r.get(4)}")
          }
    },

    // CUSUM changepoint screen over daily counts
    cmd("changepoint", "<events> <groupCol> [tsCol]") {
      case path :: groupCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.headOption.getOrElse("ts")
        graft.operators.TimeSeries.cusumChangepoint(
          graft.operators.TimeSeries.dailyCounts(
            spark.read.parquet(path), groupCol, col(tsCol)), groupCol)
          .orderBy(col(groupCol)).collect().foreach { r =>
            println(s"[changepoint] ${r.get(0)}: " +
              s"n_days=${r.getLong(1)} mean_micro=${r.getLong(2)} " +
              s"cp_day=${r.getLong(3)} max_dev=${r.getLong(4)}")
          }
    },

    // lag-k autocorrelation of the daily series
    cmd("acf", "<events> <groupCol> [maxLag] [tsCol]") {
      case path :: groupCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val nums = rest.filter(!_.startsWith("--"))
        val maxLag = nums.headOption.map(_.toInt).getOrElse(3)
        val tsCol = nums.drop(1).headOption.getOrElse("ts")
        graft.operators.TimeSeries.autocorrByGroup(
          graft.operators.TimeSeries.dailyCounts(
            spark.read.parquet(path), groupCol, col(tsCol)),
          groupCol, maxLag)
          .orderBy(col(groupCol), col("lag")).collect().foreach { r =>
            println(s"[acf] ${r.get(0)} lag=${r.getInt(1)}: " +
              s"n_pairs=${r.getLong(2)} acf=${r.get(3)}")
          }
    },

    // Kaplan-Meier lifetime survival curve
    cmd("survival", "<events> <userCol> [tsCol]") {
      case path :: userCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.headOption.getOrElse("ts")
        graft.operators.TimeSeries.kaplanMeier(
          spark.read.parquet(path), userCol, col(tsCol))
          .orderBy(col("t_day")).collect().foreach { r =>
            println(s"[survival] t=${r.getLong(0)}: " +
              s"at_risk=${r.getLong(1)} churned=${r.getLong(2)} " +
              s"censored=${r.getLong(3)} S=${r.getDouble(4)}")
          }
    },

    // incremental mergeable agg state: fold the batch, merge into the
    // persisted state if one exists, write the state back
    cmd("agg-state", "<batch> <groupCol> <valCol> <distinctCol> <stateDir>") {
      case path :: groupCol :: valCol :: distinctCol ::
          stateDir :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val batch = graft.operators.Incremental.aggState(
          spark.read.parquet(path), groupCol, col(valCol),
          col(distinctCol))
        val fs = new org.apache.hadoop.fs.Path(stateDir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val exists = fs.exists(new org.apache.hadoop.fs.Path(stateDir))
        val state =
          if (exists)
            graft.operators.Incremental.mergeAggState(
              Seq(spark.read.parquet(stateDir), batch), groupCol)
              .localCheckpoint() // materialize BEFORE overwriting input
          else batch
        state.write.mode("overwrite").parquet(stateDir)
        graft.operators.Incremental.stateReport(
          spark.read.parquet(stateDir), groupCol)
          .orderBy(col(groupCol)).collect().foreach { r =>
            println(s"[agg-state] ${r.get(0)}: n=${r.getLong(1)} " +
              s"sum=${r.getLong(2)} min=${r.getLong(3)} " +
              s"max=${r.getLong(4)} est_distinct=${r.get(8)}")
          }
    },

    // Welch's unequal-variance t-test between two variants
    cmd("welch", "<parquet> <valCol> <boolVariantCol>") {
      case path :: valCol :: variantCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.welchTTest(
          spark.read.parquet(path), col(variantCol).cast("boolean"),
          col(valCol)).head()
        println(s"[welch] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
          s"mean_a_micro=${r.getLong(2)} mean_b_micro=${r.getLong(3)} " +
          s"t_micro=${r.get(4)} df_micro=${r.get(5)}")
    },

    // Theil-Sen robust slope of the daily count series
    cmd("theil", "<events> <groupCol> [tsCol]") {
      case path :: groupCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.headOption.getOrElse("ts")
        graft.operators.TimeSeries.theilSenSlope(
          graft.operators.TimeSeries.dailyCounts(
            spark.read.parquet(path), groupCol, col(tsCol)), groupCol)
          .orderBy(col(groupCol)).collect().foreach { r =>
            println(s"[theil] ${r.get(0)}: n_pairs=${r.getLong(1)} " +
              s"slope_micro=${r.get(2)}")
          }
    },

    // Aho-Corasick blocklist screen: per-first-term document counts
    cmd("blocklist", "<corpus> <terms,csv> [--jsonl]") {
      case path :: termsCsv :: rest => spark =>
        import org.apache.spark.sql.functions._
        val terms = termsCsv.split(',').toSeq.filter(_.nonEmpty)
        loadCorpus(spark, path, rest)
          .select(graft.text.TextOps.multiMatch(col("text"), terms)
            .as("_m"))
          .groupBy(col("_m").getField("first_term").as("first_term"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("_m").getField("n_matched")).as("sum_matched"))
          .orderBy(col("first_term")).collect().foreach { r =>
            println(s"[blocklist] ${Option(r.get(0)).getOrElse("<none>")}" +
              s": docs=${r.getLong(1)} sum_matched=${r.getLong(2)}")
          }
    },

    // order-free dataset content fingerprint per group
    cmd("fingerprint", "<parquet> <groupCol> <cols,csv>") {
      case path :: groupCol :: colsCsv :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        graft.operators.Relational.datasetFingerprint(
          spark.read.parquet(path), groupCol, colsCsv.split(',').toSeq)
          .orderBy(col(groupCol)).collect().foreach { r =>
            println(s"[fingerprint] ${r.get(0)}: n=${r.getLong(1)} " +
              s"fp=${r.getLong(2)}")
          }
    },

    // WebDataset tar shard export: reproducible shuffle order →
    // shard-NNNNN.tar files with {pos}-{id}.txt entries
    cmd("tar-export", "<corpus> <out> [shards] [seed] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val nums = rest.filter(!_.startsWith("--"))
        val shards = nums.headOption.map(_.toInt).getOrElse(8)
        val seed = nums.drop(1).headOption.map(_.toLong).getOrElse(42L)
        val docs = loadCorpus(spark, corpus, rest)
        val laid = graft.operators.Relational
          .globalShuffle(docs.select("doc_id"), "doc_id", seed, shards)
          .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
          .select(col("shard"),
            concat(format_string("%08d", col("shard_pos")), lit("-"),
              col("doc_id")).as("name"),
            col("text"))
        Export.tarShards(laid, outDir, "shard", "name", "text")
        println(s"[tar-export] ${docs.count()} docs -> $shards tar " +
          s"shards (seed $seed) -> $outDir")
    },

    // ordered funnel over an events parquet: stages are the args
    cmd("funnel", "<events> <stage,stage,...> [maxGapMin]") {
      case path :: stagesCsv :: rest => spark =>
        val maxGap = rest.headOption.map(_.toLong)
        graft.streaming.EventOps.funnel(spark.read.parquet(path),
          stagesCsv.split(",").toSeq, maxGapMinutes = maxGap)
          .orderBy("stage_idx")
          .collect().foreach { r =>
            println(s"[funnel] ${r.getInt(0)} ${r.getString(1)}: " +
              s"${r.getLong(2)} users (${r.getDouble(3)})")
          }
    },

    // cohort retention over an events parquet
    cmd("retention", "<events>") {
      case path :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        graft.streaming.EventOps.retention(spark.read.parquet(path))
          .orderBy(col("cohort_day"), col("day_offset"))
          .collect().take(40).foreach { r =>
            println(s"[retention] cohort=${r.getLong(0)} " +
              s"offset=${r.getLong(1)} active=${r.getLong(2)} " +
              s"(${r.getDouble(3)})")
          }
    },

    // snapshot diff: per-id status counts between two corpus versions
    cmd("diff", "<oldCorpus> <newCorpus> [--out <dir>] [--jsonl]") {
      case oldPath :: newPath :: rest => spark =>
        import org.apache.spark.sql.functions.{col, count, lit}
        val statuses = graft.operators.Relational.corpusDiff(
          loadCorpus(spark, oldPath, rest),
          loadCorpus(spark, newPath, rest), "doc_id", "text")
        statuses.groupBy(col("status")).agg(count(lit(1)).as("n"))
          .orderBy(col("status")).collect()
          .foreach(r => println(s"[diff] ${r.getString(0)}: ${r.getLong(1)}"))
        flag(rest, "--out").foreach { out =>
          Export.jsonl(statuses.filter(col("status") =!= "unchanged"), out)
          println(s"[diff] non-unchanged rows -> $out")
        }
    },

    // per-column dataset profile (nulls, distinct est, min/max, pXX)
    cmd("profile", "<parquet>") {
      case path :: Nil => spark =>
        graft.operators.Diagnose.profile(spark.read.parquet(path))
          .orderBy("column").collect()
          .foreach(r => println(s"[profile] ${r.mkString(" ")}"))
    },

    // dataset manifest: per-file row counts + null counts + schema hash
    cmd("manifest", "<parquet> [outDir]") {
      case path :: rest => spark =>
        val m = graft.operators.Diagnose.manifest(spark, path)
        rest.headOption match {
          case Some(out) =>
            m.coalesce(1).write.mode("overwrite").parquet(out)
            println(s"[manifest] ${m.count()} files -> $out")
          case None =>
            m.orderBy("file").collect()
              .foreach(r => println(s"[manifest] ${r.mkString(" ")}"))
        }
    },

    // key-skew report: heavy hitters of any parquet column (the
    // pre-join salting/broadcast diagnostic); prints to stdout
    cmd("skew", "<parquet> <keyCol> [topK]") {
      case path :: keyCol :: rest => spark =>
        val topK = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(20)
        val rows = graft.operators.Diagnose.keySkew(
          spark.read.parquet(path).select(keyCol), keyCol, topK).collect()
        println(s"[skew] $path.$keyCol top-$topK of " +
          s"${rows.headOption.map(_.getAs[Long]("total_rows")).getOrElse(0L)} rows")
        rows.foreach { r =>
          println(f"  ${r.get(0)}%-24s ${r.getAs[Long]("n_rows")}%10d  " +
            f"${r.getAs[Double]("share") * 100}%6.2f%%")
        }
    },

    // link-graph PageRank over an edge table (src, dst) — the crawl
    // quality prior; nodes = src ∪ dst, production tier (plain sums +
    // dangling redistribution + lineage checkpoints)
    cmd("pagerank", "<edges> <outDir> [iters] [damping]") {
      case edgesPath :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val nums = rest.filter(!_.startsWith("--"))
        val iters = nums.headOption.map(_.toInt).getOrElse(10)
        val damping = nums.drop(1).headOption.map(_.toDouble).getOrElse(0.85)
        val edges = spark.read.parquet(edgesPath).select("src", "dst")
        val nodes = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        val ranks = graft.operators.LinkGraph.pageRank(
          nodes, edges, iters, damping, checkpointEvery = 5)
        ranks.write.mode("overwrite").parquet(outDir)
        println(s"[pagerank] $iters iters, damping=$damping -> $outDir")
        spark.read.parquet(outDir).orderBy(col("rank").desc).limit(10)
          .collect().foreach { r =>
            println(f"  ${r.get(0)}%-24s ${r.getDouble(1)}%.8f") }
    },

    // HyperBall-style harmonic centrality over an edge table — the
    // Common-Crawl host-ranking statistic; KMV ball sketches, k
    // registers per node
    cmd("harmonic", "<edges> <outDir> [rounds] [k]") {
      case edgesPath :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val nums = rest.filter(!_.startsWith("--"))
        val rounds = nums.headOption.map(_.toInt).getOrElse(4)
        val k = nums.drop(1).headOption.map(_.toInt).getOrElse(256)
        val edges = spark.read.parquet(edgesPath).select("src", "dst")
        val nodes = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        val cent = graft.operators.LinkGraph.harmonicCentrality(
          nodes, edges, rounds, k)
        cent.write.mode("overwrite").parquet(outDir)
        println(s"[harmonic] $rounds rounds, k=$k -> $outDir")
        spark.read.parquet(outDir).orderBy(col("centrality").desc)
          .limit(10).collect().foreach { r =>
            println(f"  ${r.get(0)}%-24s ${r.getDouble(1)}%.4f") }
    },

    // encoding cleanup: mojibake repair then NFC canonicalization —
    // the order matters (repair first, then compose)
    cmd("fix-encoding", "<corpus> <outDir> [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val docs = loadCorpus(spark, corpus, rest)
        val fixed = docs.withColumn("_moji",
          graft.text.TextOps.mojibakeScore(col("text")))
          .withColumn("text", graft.text.TextOps.nfcNormalize(
            graft.text.TextOps.fixMojibake(col("text"))))
        val nSuspect = fixed.filter(col("_moji") > 0).count()
        val out = fixed.drop("_moji")
        if (rest.contains("--jsonl")) Export.jsonl(out, outDir)
        else out.write.mode("overwrite").parquet(outDir)
        println(s"[fix-encoding] ${docs.count()} docs, " +
          s"$nSuspect mojibake-suspect repaired+NFC -> $outDir")
    },

    // extended PII pass: urls/emails + card (Luhn-reported) + phone
    cmd("pii", "<corpus> <outDir> [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val docs = loadCorpus(spark, corpus, rest)
        val cands = regexp_extract_all(col("text"),
          lit(graft.text.TextOps.cardCandidatePattern), lit(0))
        val out = docs
          .withColumn("n_cards", size(cands))
          .withColumn("n_luhn_valid", size(filter(cands, c =>
            graft.text.TextOps.luhnValid(regexp_replace(c, "[ -]", "")))))
          .withColumn("n_phones", size(regexp_extract_all(col("text"),
            lit(graft.text.TextOps.phonePattern), lit(0))))
          .withColumn("text",
            graft.text.TextOps.redactPiiExtended(col("text")))
        if (rest.contains("--jsonl")) Export.jsonl(out, outDir)
        else out.write.mode("overwrite").parquet(outDir)
        val flagged = out.filter(col("n_cards") + col("n_phones") > 0)
          .count()
        println(s"[pii] ${docs.count()} docs, $flagged with card/phone " +
          s"hits -> $outDir")
    },

    // robots politeness filter: keep URLs the agent may fetch
    cmd("robots-filter", "<urls> <robots> <outDir> [agent]") {
      case urlsPath :: robotsPath :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val agent = rest.find(!_.startsWith("--")).getOrElse("graftbot")
        val urls = spark.read.parquet(urlsPath)
        val robots = spark.read.parquet(robotsPath) // (host, body)
        val rules = graft.sources.Robots.parseRules(robots, "host", "body")
        val verdicts = graft.sources.Robots.evaluate(
          urls.select("url").distinct(), rules, agent)
        val kept = urls.join(verdicts.filter(col("allowed"))
          .select("url"), Seq("url"), "left_semi")
        kept.write.mode("overwrite").parquet(outDir)
        println(s"[robots-filter] agent=$agent ${urls.count()} urls -> " +
          s"${kept.count()} allowed -> $outDir")
    },

    // one-stop corpus overview: the dataset-card numbers (size, token
    // budget, hygiene rates) in two aggregation passes
    cmd("report", "<corpus> [--jsonl]") {
      case corpus :: rest => spark =>
        import org.apache.spark.sql.functions._
        val docs = loadCorpus(spark, corpus, rest)
        val toks = graft.text.TextOps.tokensSimple(col("text"))
        val scored = docs.select(
          length(col("text")).cast("long").as("chars"),
          coalesce(size(toks), lit(0)).cast("long").as("toks"),
          sha2(col("text"), 256).as("digest"),
          graft.text.TextOps.mojibakeScore(col("text")).as("moji"),
          graft.text.TextOps.dominantScript(col("text")).as("script"))
        val agg = scored.agg(
          count(lit(1)).as("n"),
          sum(col("chars")).as("chars"),
          sum(col("toks")).as("toks"),
          count_distinct(col("digest")).as("uniq"),
          sum(when(col("moji") > 0, 1L).otherwise(0L)).as("moji")).first()
        val n = agg.getLong(0)
        println(s"[report] $corpus")
        println(f"  docs            ${n}%,d")
        println(f"  chars           ${agg.getLong(1)}%,d")
        println(f"  tokens (simple) ${agg.getLong(2)}%,d")
        println(f"  exact-dup rate  ${if (n == 0) 0.0
          else 100.0 * (n - agg.getLong(3)) / n}%.2f%%")
        println(f"  mojibake docs   ${agg.getLong(4)}%,d")
        scored.groupBy("script").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc).limit(5).collect().foreach { r =>
            println(f"  script ${r.getString(0)}%-10s ${r.getLong(1)}%,d")
          }
    },

    // triangle counts / k-core over an edge table — the clustering
    // and link-ring screens beside pagerank/harmonic
    cmd("triangles", "<edges> <outDir>") {
      case edgesPath :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val edges = spark.read.parquet(edgesPath).select("src", "dst")
        val nodes = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        val t = graft.operators.LinkGraph.triangleCounts(nodes, edges)
        t.write.mode("overwrite").parquet(outDir)
        val total = spark.read.parquet(outDir)
          .agg(sum("n_triangles")).first().getLong(0) / 3
        println(s"[triangles] ${nodes.count()} nodes, " +
          s"$total triangles -> $outDir")
    },

    cmd("kcore", "<edges> <outDir> [k] [rounds]") {
      case edgesPath :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val nums = rest.filter(!_.startsWith("--"))
        val k = nums.headOption.map(_.toInt).getOrElse(4)
        val rounds = nums.drop(1).headOption.map(_.toInt).getOrElse(6)
        val edges = spark.read.parquet(edgesPath).select("src", "dst")
        val nodes = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        val core = graft.operators.LinkGraph.kCore(nodes, edges, k, rounds)
        core.write.mode("overwrite").parquet(outDir)
        val in = spark.read.parquet(outDir).filter(col("in_core")).count()
        println(s"[kcore] k=$k, $rounds rounds: $in of " +
          s"${nodes.count()} nodes in core -> $outDir")
    },

    // pairwise source-overlap matrix (minhash of each group's shingle
    // union) — which crawls/sources mirror each other
    cmd("overlap", "<corpus> <out> [groupCol] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        val groupCol = rest.find(!_.startsWith("--")).getOrElse("source")
        val sim = graft.text.Dedup.groupSimilarity(
          loadCorpus(spark, corpus, rest), "text", groupCol)
        Export.jsonl(sim, outDir)
        println(s"[overlap] ${sim.count()} $groupCol pairs -> $outDir")
    },

    // fill-in-the-middle splits: deterministic seeded (prefix, middle,
    // suffix) per doc
    cmd("fim", "<corpus> <outDir> [seed] [--jsonl] [--simple-tokens]") {
      case corpus :: outDir :: rest => spark =>
        val seed = rest.find(!_.startsWith("--"))
          .map(_.toLong).getOrElse(42L)
        val out = graft.text.TextOps.fimSplit(
          loadCorpus(spark, corpus, rest), "text", "doc_id", seed,
          tokenizerFor(rest))
        Export.jsonl(out, outDir)
        println(s"[fim] ${out.count()} splits (seed $seed) -> $outDir")
    },

    cmd("chunk", "<corpus> <outDir> [size] [overlap] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val size = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(512)
        val overlap = rest.filter(!_.startsWith("--"))
          .drop(1).headOption.map(_.toInt).getOrElse(64)
        val docs = loadCorpus(spark, corpus, rest)
        val chunks = docs
          .select(col("doc_id"), explode(graft.text.TextOps.chunkTokens(
            graft.text.TextOps.tokens(col("text")), size, overlap)).as("c"))
          .select(col("doc_id"), col("c.chunk_id"), col("c.chunk_text"))
        Export.jsonl(chunks, outDir)
        println(s"[chunk] size=$size overlap=$overlap " +
          s"-> ${chunks.count()} chunks -> $outDir")
    },

    cmd("shuffle", "<corpus> <outDir> [shards] [seed] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val nums = rest.filter(!_.startsWith("--"))
        val shards = nums.headOption.map(_.toInt).getOrElse(64)
        val seed = nums.drop(1).headOption.map(_.toLong).getOrElse(41L)
        val docs = loadCorpus(spark, corpus, rest)
        val layout = graft.operators.Relational.globalShuffle(
          docs, "doc_id", seed, shards)
        // storage layout output (like `split`): shard= partitions,
        // shard_pos gives the in-shard read order
        docs.join(layout, Seq("doc_id"))
          .write.mode("overwrite").partitionBy("shard").parquet(outDir)
        println(s"[shuffle] ${docs.count()} docs -> $shards shards " +
          s"(seed $seed) -> $outDir")
    },

    cmd("upsert", "<base> <updates> <keyCol> <versionCol> <out>") {
      case base :: updates :: keyCol :: versionCol :: out :: Nil => spark =>
        val b = spark.read.parquet(base)
        val u = spark.read.parquet(updates)
          .select(b.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
        val merged = Ingest.upsert(b, u, Seq(keyCol), versionCol)
        merged.write.mode("overwrite").parquet(out)
        println(s"[upsert] ${b.count()} base + ${u.count()} updates -> " +
          s"${merged.count()} rows -> $out")
    },

    cmd("classify", "<corpus> <model.txt> <outDir> [--report] [--jsonl]") {
      case corpus :: modelPath :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val docs = loadCorpus(spark, corpus, rest)
        val model = graft.text.Classifier.load(modelPath)
        val scored = graft.text.Classifier.score(docs, "text", "doc_id",
          model)
        if (rest.contains("--report")) Export.jsonl(scored, outDir)
        else Export.jsonl(
          docs.join(scored.filter(col("keep")).select("doc_id"),
            Seq("doc_id"), "left_semi"), outDir)
        val kept = scored.filter(col("keep")).count()
        println(s"[classify] ${docs.count()} docs, $kept keep " +
          s"(${model.weightsMicro.size}-token model) -> $outDir")
    },

    cmd("divergence", "<corpus> [groupCol] [buckets] [--jsonl]") {
      case corpus :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val groupCol = nums.headOption.getOrElse("source")
        val buckets = nums.drop(1).headOption.map(_.toInt).getOrElse(64)
        val docs = loadCorpus(spark, corpus, rest)
        graft.text.Dsir.groupDivergence(docs, "text", groupCol, buckets)
          .orderBy(org.apache.spark.sql.functions.col("kl").desc)
          .show(100, truncate = false)
    },

    cmd("buckets", "<corpus> <target> <outDir> [--jsonl]") {
      case corpus :: targetPath :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val docs = loadCorpus(spark, corpus, rest)
        val target = spark.read.parquet(targetPath)
        val scored = graft.text.NgramLm.bigramNll(docs, target, "text",
          "doc_id", buckets = 64)
        val cls = if (docs.columns.contains("lang"))
          docs.select(col("doc_id"), col("lang"))
        else docs.select(col("doc_id"), lit("all").as("lang"))
        val b = graft.operators.Relational.percentileBuckets(
          scored.filter(col("avg_nll").isNotNull).join(cls, Seq("doc_id")),
          "lang", "doc_id", "avg_nll")
        b.write.mode("overwrite").partitionBy("bucket").parquet(outDir)
        println(s"[buckets] ${docs.count()} docs -> head/middle/tail " +
          s"by per-lang perplexity -> $outDir")
    },

    cmd("despan", "<corpus> <out> [k] [minLen] [--report] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val nums = rest.filter(!_.startsWith("--"))
        val k = nums.headOption.map(_.toInt).getOrElse(8)
        val minLen = nums.drop(1).headOption.map(_.toInt).getOrElse(16)
        val docs = loadCorpus(spark, corpus, rest)
        val cleaned = graft.text.Dedup.removeSharedSpans(
          docs, "text", "doc_id", k, minLen)
        if (rest.contains("--report"))
          Export.jsonl(graft.text.Dedup.sharedSpans(
            docs, "text", "doc_id", k, minLen), outDir)
        else Export.jsonl(cleaned, outDir)
        val touched = cleaned.filter(col("n_removed") > 0).count()
        println(s"[despan] ${docs.count()} docs, $touched with spans " +
          s"removed (k=$k minLen=$minLen) -> $outDir")
    },

    cmd("semdecon", "<embeddings> <eval> <out> [threshold]") {
      case corpus :: evalPath :: outDir :: rest => spark =>
        val th = rest.find(!_.startsWith("--")).map(_.toDouble).getOrElse(0.95)
        val c = spark.read.parquet(corpus)
        val e = spark.read.parquet(evalPath)
        val kept = graft.sim.SimSearch.semanticDecontaminate(
          c, e, "vec_id", "embedding", th)
        kept.write.mode("overwrite").parquet(outDir)
        println(s"[semdecon] ${c.count()} corpus vs ${e.count()} eval " +
          s"-> ${kept.count()} kept (cos >= $th dropped) -> $outDir")
    },

    cmd("dhash", "<parquet> <outDir> [maxBits]") {
      case corpus :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val maxBits = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(3)
        val media = spark.read.parquet(corpus)
        val hashed = graft.multimodal.Multimodal.dHash(media)
        val pairs = graft.text.Dedup.hammingNearDupPairs(
          hashed.filter(col("ok")), "id", "dhash", maxBits = maxBits)
        pairs.write.mode("overwrite").parquet(outDir)
        println(s"[dhash] ${media.count()} images, " +
          s"${pairs.count()} near-dup pairs (<=$maxBits bits) -> $outDir")
    },

    // HLL distinct 3-gram cardinality per group (fixed 64-byte state)
    cmd("hll", "<corpus> [groupCol] [--jsonl]") {
      case corpus :: rest => spark =>
        import org.apache.spark.sql.functions._
        val groupCol = rest.find(!_.startsWith("--")).getOrElse("source")
        val t = graft.text.TextOps
        loadCorpus(spark, corpus, rest)
          .select(col(groupCol).as("g"),
            t.shingles(t.tokensSimple(col("text")), 3).as("_g"))
          .groupBy(col("g"))
          .agg(t.hllSketch(col("_g"), 6).as("_regs"))
          .select(col("g"),
            expr("aggregate(_regs, CAST(0 AS BIGINT), " +
              "(a, r) -> a + CAST(pow(2, 27 - r) AS BIGINT))").as("z"),
            expr("CAST(size(filter(_regs, r -> r = 0)) AS BIGINT)")
              .as("nz"))
          .select(col("g"),
            round(lit(0.709) * lit(4096.0) * lit(134217728.0) /
              col("z"), 1).as("est"))
          .orderBy(col("g")).collect().foreach { r =>
            println(s"[hll] ${r.get(0)}: ~${r.getDouble(1)} " +
              "distinct 3-grams")
          }
    },

    // top PMI collocations over a corpus
    cmd("pmi", "<corpus> [minCount] [topK] [--jsonl]") {
      case corpus :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val minCount = nums.headOption.map(_.toLong).getOrElse(5L)
        val topK = nums.drop(1).headOption.map(_.toInt).getOrElse(30)
        graft.text.TextOps.pmiCollocations(
          loadCorpus(spark, corpus, rest), "text",
          minCount, topK)
          .collect().foreach { r =>
            println(s"[pmi] '${r.getString(0)} ${r.getString(1)}' " +
              s"pmi=${r.getLong(5) / 1e6} n=${r.getLong(2)}")
          }
    },

    // HITS hub/authority path counts over an edge parquet
    cmd("hits", "<edges> <out> [rounds]") {
      case edgesPath :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions._
        val rounds = rest.find(!_.startsWith("--")).map(_.toInt)
          .getOrElse(2)
        val edges = spark.read.parquet(edgesPath).select("src", "dst")
        val nodes = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        val h = graft.operators.LinkGraph.hitsPathCounts(nodes, edges,
          rounds)
        h.write.mode("overwrite").parquet(outDir)
        val top = spark.read.parquet(outDir)
          .orderBy(col("auth").desc, col("id")).limit(5).collect()
        println(s"[hits] $rounds rounds, top authorities: " +
          top.map(r => s"${r.getLong(0)}(${r.getLong(2)})")
            .mkString(", ") + s" -> $outDir")
    },

    // Hill tail index of the token-frequency distribution
    cmd("hill", "<corpus> [k] [--jsonl]") {
      case corpus :: rest => spark =>
        import org.apache.spark.sql.functions._
        val k = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(100)
        val t = graft.text.TextOps
        val uni = loadCorpus(spark, corpus, rest)
          .select(explode(t.tokensSimple(col("text"))).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
        val r = graft.operators.Relational
          .hillTailIndex(uni, col("c"), col("t"), k).first()
        println(s"[hill] token-frequency tail: alpha=${r.get(3)} " +
          s"(k=${r.getLong(0)}, x_k+1=${r.getLong(1)})")
    },

    // Markov transition matrix over an events parquet
    cmd("transitions", "<events>") {
      case path :: rest => spark =>
        import org.apache.spark.sql.functions._
        graft.streaming.EventOps.transitionMatrix(
          spark.read.parquet(path))
          .orderBy(col("kind"), col("p_next").desc).collect().foreach {
            r => println(s"[transitions] ${r.getString(0)} -> " +
              s"${r.getString(1)}: p=${r.getDouble(4)} " +
              s"(${r.getLong(2)}/${r.getLong(3)})")
          }
    },

    // per-user burstiness screen; prints the most bursty users
    cmd("burstiness", "<events> [topK]") {
      case path :: rest => spark =>
        import org.apache.spark.sql.functions._
        val topK = rest.find(!_.startsWith("--")).map(_.toInt)
          .getOrElse(10)
        graft.streaming.EventOps.burstiness(spark.read.parquet(path))
          .filter(col("burstiness").isNotNull)
          .orderBy(col("burstiness").desc, col("user")).limit(topK)
          .collect().foreach { r =>
            println(s"[burstiness] user=${r.get(0)} " +
              s"B=${r.getDouble(4)} n_gaps=${r.getLong(1)}")
          }
    },

    // PSI drift of a value column between two snapshots
    cmd("psi", "<oldParquet> <newParquet> <valCol> [keyCol] [binWidth]") {
      case oldPath :: newPath :: valCol :: rest => spark =>
        import org.apache.spark.sql.functions._
        val nums = rest.filter(!_.startsWith("--"))
        val keyCol = nums.headOption.getOrElse("source")
        val binWidth = nums.drop(1).headOption.map(_.toLong)
          .getOrElse(100L)
        graft.operators.Relational.psiDrift(
          spark.read.parquet(oldPath), spark.read.parquet(newPath),
          Seq(keyCol), col(valCol), binWidth)
          .orderBy(col(keyCol)).collect().foreach { r =>
            val flag = if (r.getDouble(5) > 0.25) " DRIFT"
              else if (r.getDouble(5) > 0.1) " watch" else ""
            println(s"[psi] ${r.get(0)}: psi=${r.getDouble(5)}$flag " +
              s"(n=${r.getLong(1)}->${r.getLong(2)})")
          }
    },

    // content-defined chunk redundancy report
    cmd("cdc", "<corpus> [mask] [topK] [--jsonl]") {
      case corpus :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val mask = nums.headOption.map(_.toInt).getOrElse(16)
        val topK = nums.drop(1).headOption.map(_.toInt).getOrElse(20)
        graft.text.Dedup.cdcDedupReport(
          loadCorpus(spark, corpus, rest),
          "text", "doc_id", window = 8, mask = mask, topK = topK)
          .collect().foreach { r =>
            println(s"[cdc] ${r.getString(0).take(12)}… " +
              s"x${r.getLong(1)} in ${r.getLong(2)} docs " +
              s"(${r.getInt(3)} chars)")
          }
    },

    // RFM engagement table over an events parquet
    cmd("rfm", "<events> [topK]") {
      case path :: rest => spark =>
        import org.apache.spark.sql.functions._
        val topK = rest.find(!_.startsWith("--")).map(_.toInt)
          .getOrElse(10)
        graft.streaming.EventOps.rfm(spark.read.parquet(path))
          .orderBy(col("monetary_micro").desc, col("user")).limit(topK)
          .collect().foreach { r =>
            println(s"[rfm] user=${r.get(0)} r=${r.getLong(1)}d " +
              s"f=${r.getLong(2)} m=${r.getLong(3) / 1e6} " +
              s"tenure=${r.getLong(4)}d")
          }
    },

    // two-proportion A/B test: variant = user parity by default
    cmd("ab", "<events> <convKind>") {
      case path :: convKind :: Nil => spark =>
        import org.apache.spark.sql.functions._
        val r = graft.streaming.EventOps.abTest(
          spark.read.parquet(path), col("user_id") % 2 === 1,
          col("event_type") === convKind).first()
        val z = if (r.isNullAt(6)) "n/a" else (r.getLong(6) / 1e6).toString
        println(s"[ab] a: ${r.getLong(1)}/${r.getLong(0)} " +
          s"(${r.getDouble(4)}) b: ${r.getLong(3)}/${r.getLong(2)} " +
          s"(${r.getDouble(5)}) z=$z")
    },

    // lead-lag daily cross-correlation sweep between two event types
    cmd("leadlag", "<events> <kindA> <kindB> [maxLag]") {
      case path :: kindA :: kindB :: rest => spark =>
        import org.apache.spark.sql.functions._
        val maxLag = rest.headOption.map(_.toInt).getOrElse(3)
        graft.streaming.EventOps.leadLagCorrelation(
          spark.read.parquet(path), kindA, kindB, maxLag)
          .orderBy(col("lag")).collect().foreach { r =>
            val c = if (r.isNullAt(2)) "n/a" else r.getDouble(2).toString
            println(s"[leadlag] lag=${r.getInt(0)} corr=$c " +
              s"(n=${r.getLong(1)})")
          }
    },

    // per-group z-score outliers of a value column
    cmd("zscore", "<parquet> <keyCol> <valCol> [topK]") {
      case path :: keyCol :: valCol :: rest => spark =>
        import org.apache.spark.sql.functions._
        val topK = rest.headOption.map(_.toInt).getOrElse(10)
        val df = spark.read.parquet(path)
        graft.operators.Relational.groupZScores(df, Seq(keyCol),
          col(valCol), df.columns.head, topK)
          .collect().foreach { r =>
            println(s"[zscore] ${r.get(0)} (${r.get(1)}): " +
              s"v=${r.getLong(2)} z=${r.getDouble(4)}")
          }
    },

    // commonest k-step journeys over an events parquet
    cmd("journeys", "<events> [steps] [topK]") {
      case path :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val steps = nums.headOption.map(_.toInt).getOrElse(3)
        val topK = nums.drop(1).headOption.map(_.toInt).getOrElse(10)
        graft.streaming.EventOps.topJourneys(
          spark.read.parquet(path), steps, topK)
          .collect().foreach { r =>
            val path2 = (0 until steps).map(r.getString).mkString(" > ")
            println(s"[journeys] $path2 x${r.getLong(steps)}")
          }
    },

    // association rules over per-user event-type baskets
    cmd("assoc", "<events>") {
      case path :: Nil => spark =>
        import org.apache.spark.sql.functions._
        graft.streaming.EventOps.associationRules(
          spark.read.parquet(path))
          .orderBy(col("lift").desc, col("kind_a"), col("kind_b"))
          .collect().foreach { r =>
            println(s"[assoc] ${r.getString(0)} + ${r.getString(1)}: " +
              s"lift=${r.getDouble(9)} support=${r.getDouble(6)}")
          }
    },

    // CMS join-size estimate between two event types on user_id
    cmd("joincard", "<events> <kindA> <kindB>") {
      case path :: kindA :: kindB :: Nil => spark =>
        import org.apache.spark.sql.functions._
        val ev = spark.read.parquet(path)
        val r = graft.operators.Relational.cmsJoinCardinality(
          ev.filter(col("event_type") === kindA),
          ev.filter(col("event_type") === kindB),
          col("user_id"), col("user_id")).first()
        println(s"[joincard] $kindA(${r.getLong(0)}) x " +
          s"$kindB(${r.getLong(1)}) -> est ${r.getLong(2)} pairs")
    },

    // CUPED variance-reduced A/B readout
    cmd("cuped", "<events> <splitEpochSec> [convKind]") {
      case path :: splitSec :: rest => spark =>
        val convKind = rest.headOption.getOrElse("purchase")
        graft.streaming.EventOps.cuped(
          spark.read.parquet(path), splitSec.toLong, convKind)
          .collect().foreach { r =>
            println(s"[cuped] variant=${r.getLong(0)} n=${r.getLong(1)} " +
              s"theta=${r.getDouble(4)} mean_y=${r.getDouble(5)} " +
              s"mean_adj=${r.getDouble(6)}")
          }
    },

    // nDCG@k of a scored, graded parquet
    cmd("ndcg", "<parquet> <idCol> <scoreCol> <relCol> [k]") {
      case path :: idCol :: scoreCol :: relCol :: rest => spark =>
        import org.apache.spark.sql.functions._
        val k = rest.headOption.map(_.toInt).getOrElse(10)
        val out = graft.operators.Relational.ndcgAtK(
          spark.read.parquet(path), col(idCol), col(scoreCol),
          col(relCol), k).collect()
        out.foreach { r =>
          println(s"[ndcg] pos=${r.getInt(0)} id=${r.get(1)} " +
            s"rel=${r.get(3)} term=${r.getLong(4)}")
        }
        out.headOption.foreach(r =>
          println(s"[ndcg] ndcg@$k = ${r.getLong(7) / 1e6}"))
    },

    // entity resolution over an (id, name) parquet
    cmd("er", "<parquet> <idCol> <nameCol> [maxEdit]") {
      case path :: idCol :: nameCol :: rest => spark =>
        import org.apache.spark.sql.functions._
        val maxEdit = rest.headOption.map(_.toInt).getOrElse(2)
        // arbitrary registries get the bounded (SNM hot-block) mode —
        // a Zipfian name distribution must not go quadratic here
        val clusters = graft.text.Dedup.resolveEntities(
          spark.read.parquet(path), idCol, nameCol, maxEdit,
          blockCap = 64, hotWindow = 8)
        val sizes = clusters.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n"))
        val merged = sizes.filter(col("n") > 1)
          .agg(coalesce(sum(col("n")), lit(0L)),
            count(lit(1))).first()
        println(s"[er] ${clusters.count()} records -> " +
          s"${sizes.count()} entities " +
          s"(${merged.getLong(1)} multi-record groups covering " +
          s"${merged.getLong(0)} records)")
    },

    // top principal direction of an embeddings parquet
    cmd("pca", "<embeddings> [dim] [iters]") {
      case path :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val dim = nums.headOption.map(_.toInt).getOrElse(64)
        val iters = nums.drop(1).headOption.map(_.toInt).getOrElse(6)
        val out = graft.sim.SimSearch.pcaPowerTop(
          spark.read.parquet(path), "embedding", dim, iters)
          .collect().sortBy(_.getInt(0))
        val top = out.sortBy(r => -math.abs(r.getLong(1))).take(8)
          .map(r => s"${r.getInt(0)}:${r.getLong(1) / 1e6}")
        println(s"[pca] lambda_raw=${out.head.getLong(2)} " +
          s"top components: ${top.mkString(" ")}")
    },

    // object-store-safe pool upsert: stage + ONE marker PUT commits
    cmd("pool-commit", "<input> <poolRoot> [retain] [--csv]") {
      case input :: poolRoot :: rest => spark =>
        val df = if (rest.contains("--csv"))
          graft.operators.Ingest.loadAndNormalize(spark, input,
            graft.schema.Vintages.canonical)
        else spark.read.parquet(input)
        val retain = rest.filter(!_.startsWith("--")).headOption
          .map(_.toInt).getOrElse(1)
        graft.operators.PoolCommit.write(df, poolRoot, retain)
        val rows = graft.operators.PoolCommit.read(spark, poolRoot).count()
        println(s"[pool-commit] committed; pool now $rows rows " +
          s"(retaining $retain snapshots)")
    },

    // optional trailing gen = snapshot (time-travel) read
    cmd("pool-read", "<poolRoot> <out> [gen]") {
      case poolRoot :: outDir :: rest => spark =>
        val df = rest.headOption match {
          case Some(gen) =>
            graft.operators.PoolCommit.read(spark, poolRoot, gen.toLong)
          case None => graft.operators.PoolCommit.read(spark, poolRoot)
        }
        df.write.mode("overwrite").parquet(outDir)
        println(s"[pool-read] -> $outDir")
    },

    // the committed snapshots still readable (oldest first)
    cmd("pool-generations", "<poolRoot>") {
      case poolRoot :: Nil => spark =>
        val fs = new org.apache.hadoop.fs.Path(poolRoot)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val gens = graft.operators.PoolCommit.listGenerations(fs, poolRoot)
        println(s"[pool-generations] ${gens.mkString(",")}")
    },

    // per-group Spearman rank correlation of two numeric columns
    cmd("spearman", "<parquet> <groupCol> <aCol> <bCol>") {
      case path :: groupCol :: aCol :: bCol :: Nil => spark =>
        import org.apache.spark.sql.functions._
        graft.operators.Relational.spearmanByGroup(
          spark.read.parquet(path), groupCol, col(aCol), col(bCol))
          .collect().sortBy(_.get(0).toString).foreach { r =>
            val rho = if (r.isNullAt(2)) "n/a" else r.getDouble(2).toString
            println(s"[spearman] ${r.get(0)}: rho=$rho (n=${r.getLong(1)})")
          }
    },

    // Benford first-digit screen over a numeric column (milli-snap)
    cmd("benford", "<parquet> <valCol>") {
      case path :: valCol :: Nil => spark =>
        import org.apache.spark.sql.functions._
        graft.operators.Relational.benfordScreen(
          spark.read.parquet(path),
          round(col(valCol).cast("double") * lit(1000.0)).cast("long"))
          .collect().sortBy(_.getInt(0)).foreach { r =>
            println(s"[benford] d=${r.getInt(0)} n=${r.getLong(1)} " +
              s"obs=${r.getLong(2) / 1e4}% exp=${r.getLong(3) / 1e4}% " +
              s"dev=${r.getLong(4) / 1e4}pp")
          }
    },

    // chi-square independence of two categorical columns
    cmd("chisq", "<parquet> <rowCol> <colCol>") {
      case path :: rowCol :: colCol :: Nil => spark =>
        val cells = graft.operators.Relational.chiSquareIndependence(
          spark.read.parquet(path), rowCol, colCol).collect()
        cells.sortBy(r => (r.get(0).toString, r.get(1).toString))
          .foreach { r =>
            println(s"[chisq] (${r.get(0)}, ${r.get(1)}): " +
              s"obs=${r.getLong(2)} exp=${r.getLong(3) / 1e6} " +
              s"term=${r.getLong(4) / 1e6}")
          }
        val chi2 = cells.map(_.getLong(4)).sum / 1e6
        val df0 = (cells.map(_.get(0)).distinct.length - 1) *
          (cells.map(_.get(1)).distinct.length - 1)
        println(s"[chisq] chi2=$chi2 df=$df0")
    },

    // mean reciprocal rank over a (qid, rank, rel) parquet
    cmd("mrr", "<parquet> <qidCol> <rankCol> <relCol>") {
      case path :: qidCol :: rankCol :: relCol :: Nil => spark =>
        import org.apache.spark.sql.functions._
        val r = graft.operators.Relational.mrrAtRank(
          spark.read.parquet(path), col(qidCol), col(rankCol),
          col(relCol)).head()
        println(s"[mrr] mrr=${r.getDouble(2)} " +
          s"(${r.getLong(0)}/${r.getLong(1)} queries answered)")
    },

    // ROUGE/BLEU generation scores over (id, cand, ref) string columns
    cmd("rouge", "<parquet> <idCol> <candCol> <refCol> [outDir]") {
      case path :: idCol :: candCol :: refCol :: rest => spark =>
        import org.apache.spark.sql.functions._
        val scored = graft.text.TextOps.generationScores(
          spark.read.parquet(path), idCol,
          split(col(candCol), " "), split(col(refCol), " "))
        rest match {
          case out :: _ => scored.write.mode("overwrite").parquet(out)
          case Nil =>
            val agg = scored.agg(
              avg(col("rouge1_r_micro")), avg(col("rouge2_r_micro")),
              avg(col("bleu2_micro")), count(lit(1))).head()
            println(f"[rouge] rouge1_r=${agg.getDouble(0) / 1e6}%.4f " +
              f"rouge2_r=${agg.getDouble(1) / 1e6}%.4f " +
              f"bleu2=${agg.getDouble(2) / 1e6}%.4f " +
              s"(n=${agg.getLong(3)})")
        }
    },

    // STL-lite decomposition of the daily count series
    cmd("stl", "<events> <groupCol> <outDir> [tsCol] [halfWindow]") {
      case path :: groupCol :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.filter(!_.startsWith("--")).headOption
          .getOrElse("ts")
        val hw = rest.filter(!_.startsWith("--")).drop(1).headOption
          .map(_.toInt).getOrElse(3)
        val out = graft.operators.TimeSeries.decomposeDaily(
          graft.operators.TimeSeries.dailyCounts(
            spark.read.parquet(path), groupCol, col(tsCol)),
          groupCol, hw)
        out.write.mode("overwrite").parquet(outDir)
        println(s"[stl] ${out.count()} day rows (halfWindow=$hw) -> " +
          outDir)
    },

    // Nelson-Aalen cumulative hazard over user lifetimes
    cmd("hazard", "<events> [userCol] [tsCol]") {
      case path :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val userCol = rest.headOption.getOrElse("user_id")
        val tsCol = rest.drop(1).headOption.getOrElse("ts")
        graft.operators.TimeSeries.nelsonAalen(
          spark.read.parquet(path), userCol, col(tsCol))
          .orderBy(col("t_day")).collect().foreach { r =>
            println(s"[hazard] t=${r.getLong(0)} at_risk=${r.getLong(1)} " +
              s"churned=${r.getLong(2)} censored=${r.getLong(3)} " +
              s"cumhaz_micro=${r.getLong(4)}")
          }
    },

    // seasonal-naive forecast backtest of the daily count series
    cmd("snaive", "<events> <groupCol> [period] [tsCol]") {
      case path :: groupCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val period = rest.headOption.map(_.toInt).getOrElse(7)
        val tsCol = rest.drop(1).headOption.getOrElse("ts")
        graft.operators.TimeSeries.seasonalNaiveBacktest(
          graft.operators.TimeSeries.dailyCounts(
            spark.read.parquet(path), groupCol, col(tsCol)),
          groupCol, period)
          .orderBy(col(groupCol)).collect().foreach { r =>
            println(s"[snaive] ${r.get(0)}: n=${r.getLong(1)} " +
              s"mae_micro=${r.getLong(2)} smape_micro=${r.getLong(3)}")
          }
    },

    // Krippendorff's alpha over a long (item, value) rating table
    cmd("alpha", "<ratings> <itemCol> <valueCol>") {
      case path :: itemCol :: valueCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.krippendorffAlpha(
          spark.read.parquet(path), col(itemCol), col(valueCol)).head()
        println(s"[alpha] n_items=${r.getLong(0)} " +
          s"n_ratings=${r.getLong(1)} do_micro=${r.getLong(2)} " +
          s"de_micro=${r.getLong(3)} alpha_micro=${r.get(4)}")
    },

    // Benjamini-Hochberg FDR over a (id, p_micro) hypothesis table
    cmd("bh", "<tests> <idCol> <pMicroCol> [alphaMicro]") {
      case path :: idCol :: pCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val alpha = rest.headOption.map(_.toLong).getOrElse(50000L)
        val out = graft.operators.Relational.bhFdr(
          spark.read.parquet(path), idCol, col(pCol), alpha)
        val n = out.filter(col("discovered")).count()
        println(s"[bh] $n discoveries at alpha_micro=$alpha")
        out.orderBy(col("rank")).collect().take(20).foreach { r =>
          println(s"  rank=${r.getAs[Int]("rank")} " +
            s"${r.get(0)} p_micro=${r.getAs[Long](pCol)} " +
            s"discovered=${r.getAs[Boolean]("discovered")}")
        }
    },

    // k-anonymity / l-diversity release audit
    cmd("kanon", "<parquet> <quasiCol1,...> <sensCol> <k> <l>") {
      case path :: quasiCsv :: sensCol :: kArg :: lArg ::
          Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.kAnonymityAudit(
          spark.read.parquet(path),
          quasiCsv.split(',').toSeq.map(col(_)), col(sensCol),
          kArg.toLong, lArg.toLong).head()
        println(s"[kanon] n_rows=${r.getLong(0)} " +
          s"n_groups=${r.getLong(1)} k=${r.getLong(2)} " +
          s"l=${r.getLong(3)} groups_under_k=${r.getLong(4)} " +
          s"rows_under_k=${r.getLong(5)} min_group=${r.getLong(6)} " +
          s"groups_under_l=${r.getLong(7)}")
    },

    // z-order (Morton) clustering rewrite of a parquet table
    cmd("zorder", "<parquet> <xCol> <yCol> <outDir> [bits]") {
      case path :: xCol :: yCol :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val bits = rest.headOption.map(_.toInt).getOrElse(16)
        val df = spark.read.parquet(path)
        graft.operators.Relational.zOrderLayout(df,
          col(xCol), col(yCol), bits)
          .write.mode("overwrite").parquet(outDir)
        println(s"[zorder] ${spark.read.parquet(outDir).count()} rows " +
          s"clustered on ($xCol, $yCol) -> $outDir")
    },

    // Hilbert-curve clustering (tighter locality than zorder)
    cmd("hilbert", "<parquet> <xCol> <yCol> <outDir> [bits]") {
      case path :: xCol :: yCol :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val bits = rest.headOption.map(_.toInt).getOrElse(16)
        val df = spark.read.parquet(path)
        graft.operators.Relational.hilbertLayout(df,
          col(xCol), col(yCol), bits)
          .write.mode("overwrite").parquet(outDir)
        println(s"[hilbert] ${spark.read.parquet(outDir).count()} rows " +
          s"clustered on ($xCol, $yCol) -> $outDir")
    },

    // N-column clustering (3-4 quasi-key columns): Skilling n-D
    // Hilbert or n-D Morton interleave
    cmd("hilbert-n", "<parquet> <col1,col2,...> <outDir> [bits]") {
      case path :: colsCsv :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val bits = rest.headOption.map(_.toInt).getOrElse(16)
        val cols = colsCsv.split(',').toSeq.map(col)
        graft.operators.Relational.hilbertLayoutN(
          spark.read.parquet(path), cols, bits)
          .write.mode("overwrite").parquet(outDir)
        println(s"[hilbert-n] ${spark.read.parquet(outDir).count()} " +
          s"rows clustered on ($colsCsv) -> $outDir")
    },

    // unigram-LM (SentencePiece) tokenizer: learn a model, apply one
    cmd("unigram-learn", "<corpus> <outDir> [vocab] [iters] [--jsonl]") {
      case corpus :: outDir :: rest => spark =>
        val nums = rest.filter(!_.startsWith("--"))
        val vocab = nums.headOption.map(_.toInt).getOrElse(60)
        val iters = nums.drop(1).headOption.map(_.toInt).getOrElse(1)
        val df = loadCorpus(spark, corpus, rest)
        val model = graft.text.TextOps.learnUnigramLm(df, "text",
          vocabSize = vocab, iters = iters)
        model.coalesce(1).write.mode("overwrite").parquet(outDir)
        println(s"[unigram-learn] " +
          s"${spark.read.parquet(outDir).count()} pieces -> $outDir")
    },

    cmd("unigram-apply", "<corpus> <modelDir> <outDir> [--jsonl]") {
      case corpus :: modelDir :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.{array_join, col, size}
        val df = loadCorpus(spark, corpus, rest)
        val model = spark.read.parquet(modelDir)
          .select(col("piece"), col("cost_micro")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        graft.text.TextOps.tokensUnigram(df, "text", "_p", model)
          .withColumn("n_pieces", size(col("_p")))
          .withColumn("pieces", array_join(col("_p"), " "))
          .drop("_p")
          .write.mode("overwrite").parquet(outDir)
        println(s"[unigram-apply] " +
          s"${spark.read.parquet(outDir).count()} docs -> $outDir")
    },

    // per-file Bloom side-car: build, then point-probe (report both
    // pruning tiers) or read through it
    cmd("bloom-index", "<parquet> <col> [m] [k]") {
      case path :: colName :: rest => spark =>
        val m = rest.headOption.map(_.toInt).getOrElse(1 << 16)
        val k = rest.drop(1).headOption.map(_.toInt).getOrElse(2)
        graft.operators.Diagnose.writeBloomSidecar(spark, path, colName,
          m, k)
        val nPos = spark.read.parquet(s"$path/_bloom/$colName/pos")
          .count()
        println(s"[bloom-index] side-car on $colName: $nPos " +
          s"(file, pos) rows (m=$m, k=$k) -> $path/_bloom/$colName")
    },

    cmd("bloom-probe", "<parquet> <col> <id1,id2,...>") {
      case path :: colName :: idsCsv :: rest => spark =>
        val probes = idsCsv.split(',').toSeq.map(_.toLong)
        val r = graft.operators.Diagnose.bloomSkippingReport(spark,
          path, colName, probes).head()
        println(s"[bloom-probe] files=${r.getAs[Long]("n_files")} " +
          s"hit_minmax=${r.getAs[Long]("n_files_hit_minmax")} " +
          s"hit_bloom=${r.getAs[Long]("n_files_hit_bloom")} " +
          s"scanned_minmax=${r.getAs[Long]("n_rows_scanned_minmax")} " +
          s"scanned_bloom=${r.getAs[Long]("n_rows_scanned_bloom")} " +
          s"matched=${r.getAs[Long]("n_rows_matched")}")
    },

    cmd("bloom-read", "<parquet> <col> <id1,id2,...> <out>") {
      case path :: colName :: idsCsv :: outDir :: Nil => spark =>
        val probes = idsCsv.split(',').toSeq.map(_.toLong)
        graft.operators.Diagnose.readWithBloom(spark, path, colName,
          probes).write.mode("overwrite").parquet(outDir)
        println(s"[bloom-read] " +
          s"${spark.read.parquet(outDir).count()} rows -> $outDir")
    },

    cmd("zorder-n", "<parquet> <col1,col2,...> <outDir> [bits]") {
      case path :: colsCsv :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val bits = rest.headOption.map(_.toInt).getOrElse(16)
        val cols = colsCsv.split(',').toSeq.map(col)
        graft.operators.Relational.zOrderLayoutN(
          spark.read.parquet(path), cols, bits)
          .write.mode("overwrite").parquet(outDir)
        println(s"[zorder-n] ${spark.read.parquet(outDir).count()} " +
          s"rows clustered on ($colsCsv) -> $outDir")
    },

    // Benjamini-Yekutieli flavor (arbitrary dependence)
    cmd("by", "<parquet> <idCol> <pMicroCol> [alphaMicro]") {
      case path :: idCol :: pCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val alpha = rest.headOption.map(_.toLong).getOrElse(50000L)
        val out = graft.operators.Relational.byFdr(
          spark.read.parquet(path), idCol, col(pCol), alpha)
        val n = out.filter(col("discovered")).count()
        println(s"[by] $n discoveries at alpha_micro=$alpha")
    },

    // hazard ratio + CI from the log-rank moments
    cmd("hr", "<events> <userCol> <boolFlagCol> [tsCol]") {
      case path :: userCol :: flagCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.headOption.getOrElse("ts")
        val r = graft.operators.TimeSeries.hazardRatio(
          spark.read.parquet(path), userCol, col(tsCol),
          col(flagCol).cast("boolean")).head()
        println(s"[hr] n_users=${r.getLong(0)} n_a=${r.getLong(1)} " +
          s"hr_micro=${r.get(2)} ci=[${r.get(3)}, ${r.get(4)}]")
    },

    // 2x2 odds ratio with the Woolf CI
    cmd("oddsratio", "<parquet> <exposedCol> <outcomeCol>") {
      case path :: exposedCol :: outcomeCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.oddsRatio(
          spark.read.parquet(path), col(exposedCol).cast("boolean"),
          col(outcomeCol).cast("boolean")).head()
        println(s"[oddsratio] a=${r.getLong(0)} b=${r.getLong(1)} " +
          s"c=${r.getLong(2)} d=${r.getLong(3)} or_micro=${r.get(4)} " +
          s"ci=[${r.get(5)}, ${r.get(6)}]")
    },

    // two-sample Poisson rate-ratio test
    cmd("ratetest", "<parquet> <boolGroupCol> <countCol> <expCol>") {
      case path :: groupCol :: countCol :: expCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.poissonRateTest(
          spark.read.parquet(path), col(groupCol).cast("boolean"),
          col(countCol), col(expCol)).head()
        println(s"[ratetest] c_a=${r.getLong(0)} e_a=${r.getLong(1)} " +
          s"c_b=${r.getLong(2)} e_b=${r.getLong(3)} " +
          s"rr_micro=${r.get(4)} z_micro=${r.get(5)}")
    },

    // blocking-quality report: prefix/suffix name-half keys vs truth
    cmd("blocking-eval", "<records> <idCol> <truthCol> <nameCol> [halfLen]") {
      case path :: idCol :: truthCol :: nameCol ::
          rest => spark =>
        import org.apache.spark.sql.functions.{col, substring}
        val halfLen = rest.headOption.map(_.toInt).getOrElse(6)
        graft.text.Dedup.blockingQuality(
          spark.read.parquet(path), idCol, truthCol, Seq(
            "first_half" -> substring(col(nameCol), 1, halfLen),
            "second_half" -> substring(col(nameCol), halfLen + 1, halfLen)))
          .collect().foreach { r =>
            println(s"[blocking-eval] ${r.getString(0)}: " +
              s"candidates=${r.getLong(1)} truth=${r.getLong(2)} " +
              s"covered=${r.getLong(3)} reduction=${r.getDouble(4)} " +
              s"completeness=${r.getDouble(5)}")
          }
    },

    // personalized PageRank from a seed list
    cmd("ppr", "<edges> <seeds> <outDir> [iters] [damping]") {
      case edgesPath :: seedsPath :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val iters = rest.headOption.map(_.toInt).getOrElse(5)
        val damping = rest.drop(1).headOption.map(_.toDouble)
          .getOrElse(0.85)
        val edges = spark.read.parquet(edgesPath).select("src", "dst")
        val nodes = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        val seeds = spark.read.parquet(seedsPath)
        val ranks = graft.operators.LinkGraph.personalizedPageRankExact(
          nodes, edges, seeds, iters, damping)
        ranks.write.mode("overwrite").parquet(outDir)
        println(s"[ppr] $iters iters from ${seeds.count()} seeds -> " +
          outDir)
        spark.read.parquet(outDir).orderBy(col("rank").desc).limit(5)
          .collect().foreach { r =>
            println(f"  ${r.get(0)}%-24s ${r.getDouble(1)}%.8f") }
    },

    // Mann-Whitney U rank-sum test: groupCol (boolean) splits sides
    cmd("mwu", "<parquet> <valCol> <boolGroupCol>") {
      case path :: valCol :: groupCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.mannWhitneyU(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(groupCol).cast("boolean"), col(valCol)).head()
        println(s"[mwu] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
          s"u_a_x2=${r.getLong(2)} u_b_x2=${r.getLong(3)} " +
          s"r_rb_micro=${r.getLong(4)} z_micro=${r.get(5)}")
    },

    // exact Gini concentration of an integer value column
    cmd("gini", "<parquet> <valCol>") {
      case path :: valCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.giniIndex(
          spark.read.parquet(path), col(valCol)).head()
        println(s"[gini] n=${r.getLong(0)} total=${r.getLong(1)} " +
          s"gini_micro=${r.get(2)}")
    },

    // Jensen-Shannon divergence between two sides of a flag column
    cmd("jsd", "<parquet> <catCol> <boolFlagCol>") {
      case path :: catCol :: flagCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.jsDivergenceTotal(
          spark.read.parquet(path), col(catCol),
          col(flagCol).cast("boolean")).head()
        println(s"[jsd] n_categories=${r.getLong(0)} " +
          s"js_micro=${r.get(1)}")
    },

    // Cramér's V association strength of two categorical columns
    cmd("cramers", "<parquet> <rowCol> <colCol>") {
      case path :: rowCol :: colCol :: Nil => spark =>
        val r = graft.operators.Relational.cramersV(
          spark.read.parquet(path), rowCol, colCol).head()
        println(s"[cramers] n=${r.getLong(0)} " +
          s"dims=${r.getLong(1)}x${r.getLong(2)} " +
          s"chi2_micro=${r.getLong(3)} v_micro=${r.getLong(4)}")
    },

    // Adamic-Adar link prediction: top-k likely missing edges
    cmd("adamic", "<edges> [topK]") {
      case edgesPath :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val topK = rest.headOption.map(_.toInt).getOrElse(20)
        graft.operators.LinkGraph.adamicAdar(
          spark.read.parquet(edgesPath).select("src", "dst"), topK)
          .collect().foreach { r =>
            println(s"[adamic] ${r.get(0)} -- ${r.get(1)}: " +
              s"common=${r.getAs[Long]("n_common")} " +
              s"aa_micro=${r.getAs[Long]("aa_micro")}")
          }
    },

    // mutual information + NMI between two categorical columns
    cmd("mi", "<parquet> <xCol> <yCol>") {
      case path :: xCol :: yCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.mutualInformation(
          spark.read.parquet(path), col(xCol), col(yCol)).head()
        println(s"[mi] n=${r.getLong(0)} n_x=${r.getLong(1)} " +
          s"n_y=${r.getLong(2)} mi_micro=${r.getLong(3)} " +
          s"hx_micro=${r.getLong(4)} hy_micro=${r.getLong(5)} " +
          s"nmi_micro=${r.get(6)}")
    },

    // McNemar paired-classifier test over boolean pred/label columns
    cmd("mcnemar", "<parquet> <predA> <predB> <label>") {
      case path :: predACol :: predBCol :: labelCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.mcNemar(
          spark.read.parquet(path), col(predACol).cast("boolean"),
          col(predBCol).cast("boolean"), col(labelCol).cast("boolean"))
          .head()
        println(s"[mcnemar] n=${r.getLong(0)} b_only=${r.getLong(1)} " +
          s"c_only=${r.getLong(2)} chi2_micro=${r.get(3)} " +
          s"chi2_cc_micro=${r.get(4)}")
    },

    // restricted mean survival time at a day horizon
    cmd("rmst", "<events> <userCol> <tauDays> [tsCol]") {
      case path :: userCol :: tau :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.headOption.getOrElse("ts")
        val r = graft.operators.TimeSeries.rmst(
          spark.read.parquet(path), userCol, col(tsCol), tau.toLong)
          .head()
        println(s"[rmst] tau_day=${r.getLong(0)} " +
          s"n_users=${r.getLong(1)} rmst_micro=${r.getLong(2)}")
    },

    // degree assortativity: do hubs link to hubs?
    cmd("assortativity", "<edges>") {
      case edgesPath :: Nil => spark =>
        val r = graft.operators.LinkGraph.degreeAssortativity(
          spark.read.parquet(edgesPath).select("src", "dst")).head()
        println(s"[assortativity] n_nodes=${r.getLong(0)} " +
          s"n_edges=${r.getLong(1)} r_micro=${r.get(2)}")
    },

    // Newman modularity of a community assignment over an edge list
    cmd("modularity", "<edges> <assign>") {
      case edgesPath :: assignPath :: Nil => spark =>
        val rows = graft.operators.LinkGraph.modularity(
          spark.read.parquet(edgesPath).select("src", "dst"),
          spark.read.parquet(assignPath).select("id", "community"))
          .collect()
        var total = 0L
        rows.sortBy(_.get(0).toString).foreach { r =>
          total += r.getAs[Long]("q_term_micro")
          println(s"[modularity] community=${r.get(0)} " +
            s"n_nodes=${r.getAs[Long]("n_nodes")} " +
            s"e_in=${r.getAs[Long]("e_in")} " +
            s"d_tot=${r.getAs[Long]("d_tot")} " +
            s"q_term_micro=${r.getAs[Long]("q_term_micro")}")
        }
        println(s"[modularity] total_q_micro=$total")
    },

    // unsupervised Fellegi-Sunter: Winkler-EM weights from UNLABELED
    // candidate pairs (boolean comparison-field columns)
    cmd("fs-em", "<pairs> <boolField1,boolField2,...> [iters]") {
      case pairsPath :: fieldsCsv :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val iters = rest.headOption.map(_.toInt).getOrElse(5)
        val fields = fieldsCsv.split(',').toSeq.filter(_.nonEmpty)
        require(fields.nonEmpty, "usage: fs-em <pairs> <f1,f2,...> [iters]")
        graft.text.Dedup.fellegiSunterEM(
          spark.read.parquet(pairsPath),
          fields.map(f => f -> col(f).cast("boolean")), iters)
          .collect().foreach { r =>
            println(s"[fs-em] ${r.getString(0)}: " +
              s"p_micro=${r.getLong(1)} m_micro=${r.getLong(2)} " +
              s"u_micro=${r.getLong(3)} w_agree=${r.getLong(4)} " +
              s"w_disagree=${r.getLong(5)}")
          }
    },

    // Kendall tau-b rank correlation of two integer columns
    cmd("kendall", "<parquet> <aCol> <bCol>") {
      case path :: aCol :: bCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.kendallTauB(
          spark.read.parquet(path), col(aCol), col(bCol)).head()
        println(s"[kendall] n=${r.getLong(0)} cells=${r.getLong(1)} " +
          s"c=${r.getLong(2)} d=${r.getLong(3)} tau_b_micro=${r.get(4)}")
    },

    // Cohen's d / Hedges' g effect size between two sides of a flag
    cmd("cohend", "<parquet> <valCol> <boolGroupCol>") {
      case path :: valCol :: groupCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.cohensD(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(groupCol).cast("boolean"), col(valCol)).head()
        println(s"[cohend] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
          s"mean_a_micro=${r.getLong(2)} mean_b_micro=${r.getLong(3)} " +
          s"d_micro=${r.get(4)} g_micro=${r.get(5)}")
    },

    // log-rank two-group survival test over user lifetimes
    cmd("logrank", "<events> <userCol> <boolFlagCol> [tsCol]") {
      case path :: userCol :: flagCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.headOption.getOrElse("ts")
        val r = graft.operators.TimeSeries.logRankTest(
          spark.read.parquet(path), userCol, col(tsCol),
          col(flagCol).cast("boolean")).head()
        println(s"[logrank] n_users=${r.getLong(0)} n_a=${r.getLong(1)} " +
          s"o_a=${r.getLong(2)} e_a_micro=${r.getLong(3)} " +
          s"v_micro=${r.getLong(4)} z_micro=${r.get(5)} " +
          s"chi2_micro=${r.get(6)}")
    },

    // Cohen's h + Wilson intervals for a two-arm proportion
    cmd("cohensh", "<parquet> <boolGroupCol> <successCol>") {
      case path :: flagCol :: successCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.proportionEffect(
          spark.read.parquet(path), col(flagCol).cast("boolean"),
          col(successCol).cast("boolean")).head()
        println(s"[cohensh] a=${r.getLong(1)}/${r.getLong(0)} " +
          s"b=${r.getLong(3)}/${r.getLong(2)} h_micro=${r.get(4)} " +
          s"wilson_a=[${r.get(5)}, ${r.get(6)}] " +
          s"wilson_b=[${r.get(7)}, ${r.get(8)}]")
    },

    // Holm-Bonferroni step-down (family-wise error control)
    cmd("holm", "<parquet> <idCol> <pMicroCol> [alphaMicro]") {
      case path :: idCol :: pCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val alpha = rest.headOption.map(_.toLong).getOrElse(100000L)
        val out = graft.operators.Relational.holmAdjust(
          spark.read.parquet(path), idCol, col(pCol), alpha)
        val n = out.count()
        val disc = out.filter(col("discovered")).count()
        println(s"[holm] $disc/$n discovered at alpha_micro=$alpha")
    },

    // IPW treatment effect with a text-trained propensity model
    cmd("ipw", "<corpus> <tCol> <tVal> <yCol> <yVal> [dim] [iters] [--jsonl]") {
      case corpus :: tCol :: tVal :: yCol :: yVal :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val pos = rest.filter(!_.startsWith("--"))
        val dim = pos.headOption.map(_.toInt).getOrElse(16)
        val iters = pos.drop(1).headOption.map(_.toInt).getOrElse(3)
        val df = loadCorpus(spark, corpus, rest)
        val r = graft.text.Classifier.ipwEffect(df, "text", "doc_id",
          col(tCol) === tVal, col(yCol) === yVal, dim, iters).head()
        println(s"[ipw] n=${r.getLong(0)} treated=${r.getLong(1)} " +
          s"mu1_micro=${r.getLong(2)} mu0_micro=${r.getLong(3)} " +
          s"ate_micro=${r.getLong(4)}")
    },

    // doubly-robust AIPW: q318's IPW + per-arm outcome models
    cmd("aipw", "<corpus> <tCol> <tVal> <yCol> <yVal> [propDim] " +
        "[propIters] [outDim] [outIters] [--jsonl]") {
      case corpus :: tCol :: tVal :: yCol :: yVal :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val pos = rest.filter(!_.startsWith("--"))
        val pDim = pos.headOption.map(_.toInt).getOrElse(16)
        val pIters = pos.drop(1).headOption.map(_.toInt).getOrElse(3)
        val oDim = pos.drop(2).headOption.map(_.toInt).getOrElse(pDim)
        val oIters = pos.drop(3).headOption.map(_.toInt)
          .getOrElse(pIters)
        val df = loadCorpus(spark, corpus, rest)
        val r = graft.text.Classifier.aipwEffect(df, "text", "doc_id",
          col(tCol) === tVal, col(yCol) === yVal, pDim, pIters, oDim,
          oIters).head()
        println(s"[aipw] n=${r.getLong(0)} treated=${r.getLong(1)} " +
          s"mu1_micro=${r.getLong(2)} mu0_micro=${r.getLong(3)} " +
          s"ate_micro=${r.getLong(4)}")
    },

    // Kish effective sample size of a weighted corpus
    cmd("kish", "<parquet> <weightCol>") {
      case path :: wCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.kishNeff(
          spark.read.parquet(path).filter(col(wCol).isNotNull),
          col(wCol)).head()
        println(s"[kish] n=${r.getLong(0)} sum_w=${r.getLong(1)} " +
          s"n_eff_micro=${r.get(2)} deff_micro=${r.get(3)}")
    },

    // file-skipping audit: how well does the layout prune a range?
    cmd("skip-report", "<parquet> <valCol> <lo> <hi>") {
      case path :: valCol :: lo :: hi :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Diagnose.fileSkippingReport(spark, path,
          col(valCol), lo.toLong, hi.toLong).head()
        println(s"[skip-report] files=${r.getLong(2)}/${r.getLong(0)} " +
          s"rows_scanned=${r.getLong(3)}/${r.getLong(1)} " +
          s"matched=${r.getLong(4)} read_amp_micro=${r.get(5)}")
    },

    // Poisson dispersion screen over a per-unit count column
    cmd("dispersion", "<parquet> <countCol>") {
      case path :: countCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.poissonDispersion(
          spark.read.parquet(path).filter(col(countCol).isNotNull),
          col(countCol)).head()
        println(s"[dispersion] n=${r.getLong(0)} sum_x=${r.getLong(1)} " +
          s"dispersion_micro=${r.get(2)} z_micro=${r.get(4)}")
    },

    // DP count release (keyed-PRF Laplace noise; publish noisy only)
    cmd("dp-counts", "<parquet> <groupCol> <epsMicro> <seed> <outDir>") {
      case path :: groupCol :: epsArg :: seed :: outDir ::
          Nil => spark =>
        import org.apache.spark.sql.functions.col
        graft.operators.Relational.dpNoisyCounts(
          spark.read.parquet(path).filter(col(groupCol).isNotNull),
          Seq(col(groupCol)), epsArg.toDouble, seed)
          .withColumnRenamed("g0", groupCol)
          .drop("n") // the releasable artifact carries noisy_n only
          .write.mode("overwrite").parquet(outDir)
        println(s"[dp-counts] eps=$epsArg " +
          s"${spark.read.parquet(outDir).count()} noisy groups -> $outDir")
    },

    // anytime-valid A/B monitor (mSPRT): daily always-valid p path
    cmd("msprt", "<events> <boolGroupCol> <successCol> [tsCol]") {
      case path :: flagCol :: successCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.headOption.getOrElse("ts")
        val rows = graft.operators.Relational.msprtMonitor(
          spark.read.parquet(path), col(flagCol).cast("boolean"),
          col(successCol).cast("boolean"), col(tsCol))
          .orderBy(col("day")).collect()
        rows.takeRight(5).foreach { r =>
          println(s"[msprt] day=${r.getLong(0)} " +
            s"n=(${r.getLong(1)},${r.getLong(3)}) " +
            s"x=(${r.getLong(2)},${r.getLong(4)}) " +
            s"p_always_micro=${r.get(6)}")
        }
    },

    // two-sample Kolmogorov-Smirnov over an integer value column
    cmd("ks", "<parquet> <boolGroupCol> <valCol>") {
      case path :: flagCol :: valCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.ksTest(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(flagCol).cast("boolean"), col(valCol)).head()
        println(s"[ks] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
          s"d_micro=${r.get(2)} p_micro=${r.get(3)}")
    },

    // Adjusted Rand Index: clustering-vs-truth pair agreement
    cmd("ari", "<parquet> <aCol> <bCol>") {
      case path :: aCol :: bCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.adjustedRandIndex(
          spark.read.parquet(path), col(aCol), col(bCol)).head()
        println(s"[ari] n=${r.getLong(0)} n_a=${r.getLong(1)} " +
          s"n_b=${r.getLong(2)} ari_micro=${r.get(6)}")
    },

    // CMH stratified 2x2 association + MH common odds ratio
    cmd("cmh", "<parquet> <stratCol> <exposedCol> <outcomeCol>") {
      case path :: stratCol :: expCol :: outCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.cmhTest(
          spark.read.parquet(path), col(stratCol),
          col(expCol).cast("boolean"), col(outCol).cast("boolean"))
          .head()
        println(s"[cmh] n_strata=${r.getLong(0)} n_rows=${r.getLong(1)} " +
          s"chi2_micro=${r.get(5)} or_micro=${r.get(6)} " +
          s"ci=[${r.get(7)}, ${r.get(8)}]")
    },

    // Mondrian k-anonymity generalizer: median-cut global recoding of
    // integer quasi-id columns until classes can't split above k
    cmd("mondrian", "<parquet> <quasiCol1,...> <k> <outDir> [depth]") {
      case path :: qidCols :: kArg :: outDir :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val depth = rest.headOption.map(_.toInt).getOrElse(8)
        val out = graft.operators.Relational.mondrianAnonymize(
          spark.read.parquet(path),
          qidCols.split(",").toSeq.map(col), kArg.toLong, depth)
        out.write.mode("overwrite").parquet(outDir)
        val back = spark.read.parquet(outDir)
        val n = back.count()
        val minN = back.agg(org.apache.spark.sql.functions.min("n"))
          .head().getLong(0)
        println(s"[mondrian] $n classes, min class $minN " +
          s"(k=$kArg, maxDepth=$depth) -> $outDir")
    },

    // covariate-adjusted two-group survival comparison: per-stratum
    // O/E/V moments summed before the z / chi2 / pooled-HR fold
    cmd("logrank-strat", "<events> <userCol> <boolFlagCol> <stratCol> [tsCol]") {
      case path :: userCol :: flagCol :: stratCol ::
          rest => spark =>
        import org.apache.spark.sql.functions.col
        val tsCol = rest.headOption.getOrElse("ts")
        val r = graft.operators.TimeSeries.stratifiedLogRank(
          spark.read.parquet(path), userCol, col(tsCol),
          col(flagCol).cast("boolean"), col(stratCol)).head()
        println(s"[logrank-strat] n_users=${r.getLong(0)} " +
          s"n_a=${r.getLong(1)} n_strata=${r.getLong(2)} " +
          s"o_a=${r.getLong(3)} e_a_micro=${r.getLong(4)} " +
          s"v_micro=${r.getLong(5)} z_micro=${r.get(6)} " +
          s"hr_micro=${r.get(8)} ci=[${r.get(9)}, ${r.get(10)}]")
    },

    // trimmed + winsorized means of an integer value column
    cmd("trimmed", "<parquet> <valCol> [trimMicro]") {
      case path :: valCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val trim = rest.headOption.map(_.toLong).getOrElse(100000L)
        val r = graft.operators.Relational.trimmedMeans(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(valCol), trim).head()
        println(s"[trimmed] n=${r.getLong(0)} k=${r.getLong(1)} " +
          s"mean_micro=${r.getLong(2)} trimmed_micro=${r.get(3)} " +
          s"winsorized_micro=${r.get(4)}")
    },

    // one-way ANOVA F + eta² across the groups of a category column
    cmd("anova", "<parquet> <valCol> <groupCol>") {
      case path :: valCol :: groupCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.anovaF(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(groupCol), col(valCol)).head()
        println(s"[anova] k=${r.getLong(0)} n=${r.getLong(1)} " +
          s"ssb_milli=${r.getLong(2)} ssw_milli=${r.getLong(3)} " +
          s"sst_milli=${r.getLong(4)} f_micro=${r.get(5)} " +
          s"eta2_micro=${r.get(6)}")
    },

    // Levene homogeneity-of-variance W across a category column
    cmd("levene", "<parquet> <valCol> <groupCol>") {
      case path :: valCol :: groupCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.leveneW(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(groupCol), col(valCol)).head()
        println(s"[levene] k=${r.getLong(0)} n=${r.getLong(1)} " +
          s"ssb_milli=${r.getLong(2)} ssw_milli=${r.getLong(3)} " +
          s"w_micro=${r.get(4)}")
    },

    // isotonic (PAV) calibration fit over a micro-score column
    cmd("isotonic", "<parquet> <scoreMicroCol> <labelCol> [bins]") {
      case path :: scoreCol :: labelCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val bins = rest.headOption.map(_.toInt).getOrElse(100)
        val fit = graft.text.Classifier.isotonicFit(
          spark.read.parquet(path), col(scoreCol),
          col(labelCol).cast("boolean"), bins)
        fit.orderBy(col("bin")).collect().foreach { r =>
          println(s"[isotonic] bin=${r.getLong(0)} n=${r.getLong(1)} " +
            s"pos=${r.getLong(2)} cal_micro=${r.getLong(3)}")
        }
    },

    // quantile normalization: map each group's values onto the pooled
    // distribution by rank; writes the (grp, v) -> norm_v map
    cmd("qnorm", "<parquet> <valCol> <groupCol> <outDir>") {
      case path :: valCol :: groupCol :: outDir :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val m = graft.operators.Relational.quantileNormalize(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(groupCol), col(valCol))
        m.write.mode("overwrite").parquet(outDir)
        println(s"[qnorm] ${spark.read.parquet(outDir).count()} " +
          s"(group, value) cells mapped -> $outDir")
    },

    // distributed logistic-regression training over hashed features
    cmd("logistic", "<corpus> <labelCol> <labelValue> <outDir> [dim] [iters] [--jsonl]") {
      case corpus :: labelCol :: labelValue :: outDir ::
          rest => spark =>
        import org.apache.spark.sql.functions.col
        val pos = rest.filter(!_.startsWith("--"))
        val dim = pos.headOption.map(_.toInt).getOrElse(16)
        val iters = pos.drop(1).headOption.map(_.toInt).getOrElse(3)
        val df = loadCorpus(spark, corpus, rest)
        val w = graft.text.Classifier.logisticFit(df, "text", "doc_id",
          col(labelCol) === labelValue, dim, iters)
        w.write.mode("overwrite").parquet(outDir)
        println(s"[logistic] dim=$dim iters=$iters -> $outDir")
        spark.read.parquet(outDir).orderBy(col("idx")).collect()
          .foreach { r =>
            println(f"[logistic]   idx=${r.getLong(0)}%3d " +
              f"w=${r.getLong(1) / 1e6}%+.6f")
          }
    },

    // score a corpus through persisted logistic weights
    cmd("logistic-score", "<corpus> <weightsDir> <outDir> [--jsonl]") {
      case corpus :: weightsDir :: outDir :: rest => spark =>
        val df = loadCorpus(spark, corpus, rest)
        val w = spark.read.parquet(weightsDir)
        graft.text.Classifier.logisticScore(df, "text", "doc_id", w)
          .write.mode("overwrite").parquet(outDir)
        println(s"[logistic-score] " +
          s"${spark.read.parquet(outDir).count()} docs scored -> $outDir")
    },

    // Cochran's Q across k boolean prediction columns
    cmd("cochran", "<parquet> <predCol1,predCol2,...>") {
      case path :: predsCsv :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val preds = predsCsv.split(',').toSeq
          .map(c => col(c).cast("boolean"))
        val r = graft.operators.Relational.cochranQ(
          spark.read.parquet(path), preds).head()
        println(s"[cochran] n=${r.getLong(0)} k=${r.getLong(1)} " +
          s"q_micro=${r.get(2)}")
    },

    // Friedman blocked-rank test across k value columns
    cmd("friedman", "<parquet> <valCol1,valCol2,...>") {
      case path :: valsCsv :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.friedmanChi2(
          spark.read.parquet(path),
          valsCsv.split(',').toSeq.map(col(_))).head()
        println(s"[friedman] n=${r.getLong(0)} k=${r.getLong(1)} " +
          s"chi2_micro=${r.get(2)}")
    },

    // median + MAD + robust sigma of an integer value column
    cmd("mad", "<parquet> <valCol>") {
      case path :: valCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.medianAbsDeviation(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(valCol)).head()
        println(s"[mad] n=${r.getLong(0)} median_micro=${r.getLong(1)} " +
          s"mad_micro=${r.getLong(2)} sigma_micro=${r.getLong(3)}")
    },

    // two-proportion z-test over boolean group/success columns
    cmd("propz", "<parquet> <boolGroupCol> <successCol>") {
      case path :: groupCol :: successCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.twoProportionZ(
          spark.read.parquet(path), col(groupCol).cast("boolean"),
          col(successCol)).head()
        println(s"[propz] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
          s"x_a=${r.getLong(2)} x_b=${r.getLong(3)} " +
          s"diff_micro=${r.get(4)} z_micro=${r.get(5)} " +
          s"ci=[${r.get(6)}, ${r.get(7)}]")
    },

    // Kruskal-Wallis H rank test across the groups of a category column
    cmd("kruskal", "<parquet> <valCol> <groupCol>") {
      case path :: valCol :: groupCol :: Nil => spark =>
        import org.apache.spark.sql.functions.col
        val r = graft.operators.Relational.kruskalWallisH(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(groupCol), col(valCol)).head()
        println(s"[kruskal] k=${r.getLong(0)} n=${r.getLong(1)} " +
          s"h_micro=${r.get(2)} h_tie_micro=${r.get(3)}")
    },

    // Chao1 + Good-Turing vocabulary-richness report over a corpus
    cmd("vocab-richness", "<corpus> [--jsonl]") {
      case path :: rest => spark =>
        val r = graft.text.TextOps.vocabRichness(
          loadCorpus(spark, path, rest), "text").head()
        println(s"[vocab-richness] n_tokens=${r.getLong(0)} " +
          s"n_types=${r.getLong(1)} f1=${r.getLong(2)} " +
          s"f2=${r.getLong(3)} chao1_micro=${r.getLong(4)} " +
          s"coverage_micro=${r.getLong(5)}")
    },

    // Poisson-bootstrap CI for a mean (the distributed bootstrap)
    cmd("bootstrap-ci", "<parquet> <keyCol> <valCol> [B] [alphaMicro]") {
      case path :: keyCol :: valCol :: rest => spark =>
        import org.apache.spark.sql.functions.col
        val b = rest.headOption.map(_.toInt).getOrElse(32)
        val alpha = rest.drop(1).headOption.map(_.toLong)
          .getOrElse(100000L)
        val r = graft.operators.Relational.poissonBootstrapCI(
          spark.read.parquet(path).filter(col(valCol).isNotNull),
          col(keyCol), col(valCol), b, alpha).head()
        println(s"[bootstrap-ci] n=${r.getLong(0)} B=${r.getLong(1)} " +
          s"mean_micro=${r.getLong(2)} " +
          s"ci_micro=[${r.get(3)}, ${r.get(4)}]")
    }
  )

  private val byVerb: Map[String, Command] =
    commands.map(c => c.verb -> c).toMap

  private def usage: String =
    ("usage: graft.cli.Main <verb> <args>" +:
      commands.map(c => s"  ${c.verb} ${c.args}")).mkString("\n")

  /** The value after flag `name` in `args` (`--bm25 <dir>`), if any. */
  private def flag(args: List[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }


  /** Deterministic sample hash over the ROW KEY — every column EXCEPT
    * the value column (robustOutliersApprox's documented contract:
    * hash the key, not the value, so re-measured values keep their
    * sample membership), each column null-sentineled because
    * `concat_ws` SKIPS nulls and would collide rows differing only by
    * a null-vs-absent column.
    */
  private def rowKeyHash(df: org.apache.spark.sql.DataFrame,
      valCol: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    graft.text.TextOps.hash32(concat_ws(":",
      df.columns.filterNot(_ == valCol).toSeq.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))): _*))
  }

  private def loadCorpus(spark: SparkSession, path: String,
      flags: List[String]) =
    if (flags.contains("--jsonl")) Ingest.loadJsonl(spark, path)
    else spark.read.parquet(path)

  /** Budget tokenizer for mix/pack: production `tokens` by default,
    * `tokensSimple` with `--simple-tokens` (matches gate/oracle counts).
    */
  private def tokenizerFor(flags: List[String])
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    if (flags.contains("--simple-tokens")) graft.text.TextOps.tokensSimple
    else graft.text.TextOps.tokens
}
