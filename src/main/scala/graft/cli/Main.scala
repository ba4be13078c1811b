package graft.cli

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.operators.{Diagnose, Export, Ingest, Pool}
import graft.schema.Vintages

/** CLI entry points mirroring the reference's Makefile workflow
  * (`/root/reference/Makefile:52-69`: ingest / dump / diagnose):
  *
  * {{{
  * graft.cli.Main ingest  <inputDir> <poolRoot> [vintage] [--dry-run]
  * graft.cli.Main dump    <poolRoot> <outDir> [n] [seed]
  * graft.cli.Main diagnose <poolRoot>
  * graft.cli.Main dedup   <corpus> <outDir> [--near | --index <idx>] [--jsonl]
  * graft.cli.Main sign-index <corpus> <outDir> [--jsonl]
  * graft.cli.Main decontaminate <corpus> <evalSet> <outDir> [k] [--bloom] [--jsonl]
  * graft.cli.Main clean   <corpus> <evalSet> <outDir> [minQuality] [maxDupRatio] [--jsonl]
  * graft.cli.Main audit   <corpus> <evalSet> <outDir> [minQuality] [maxDupRatio] [--jsonl]
  * graft.cli.Main audit-store <corpus> <evalSet> <auditDir> [minQuality] [maxDupRatio]   // parquet lineage artifact
  * graft.cli.Main preflight <auditDir>   // per-verdict counts off the artifact, zero corpus scans
  * graft.cli.Main stl <events> <groupCol> <outDir> [tsCol] [halfWindow]   // STL-lite decomposition
  * graft.cli.Main hazard <events> [userCol] [tsCol]   // Nelson-Aalen cumulative hazard
  * graft.cli.Main snaive <events> <groupCol> [period] [tsCol]   // seasonal-naive backtest
  * graft.cli.Main alpha <ratings> <itemCol> <valueCol>   // Krippendorff's alpha
  * graft.cli.Main bh <tests> <idCol> <pMicroCol> [alphaMicro]   // Benjamini-Hochberg FDR
  * graft.cli.Main blocking-eval <records> <idCol> <truthCol> <nameCol> [halfLen]
  * graft.cli.Main ppr <edges> <seeds> <outDir> [iters] [damping]   // personalized PageRank
  * graft.cli.Main distinct <corpus> [k] [--jsonl]   // KMV per-source distinct 3-grams
  * graft.cli.Main semdedup <embeddings> <outDir> [k] [threshold] [dim] [cellCap]
  * graft.cli.Main dedup-stream <inDir> <idxDir> <outDir> <checkpoint>   // JSONL drops
  * graft.cli.Main funnel-stream <inDir> <statePath> <checkpoint> <stage,stage,...> [maxGapMin]   // JSONL event drops
  * graft.cli.Main funnel-report <statePath> <stage,stage,...> [k]   // counts + latency percentiles off state
  * graft.cli.Main ann-index <embeddings> <outDir> [planes] [dim]
  * graft.cli.Main ann-query <idxDir> <queries> <outDir> [k] [planes] [dim]
  * graft.cli.Main pq-index <embeddings> <outDir> [m] [k] [iters] [dim] [cellCol] [--residual]
  * graft.cli.Main pq-query <idxDir> <queries> <outDir> [k] [m] [nprobe] [dim] [--refine <rawEmb> [c]]
  * graft.cli.Main pq-append <idxDir> <embeddings> [m] [dim]   // incremental index append (no refit)
  * graft.cli.Main pq-delete <idxDir> <idsParquet>              // tombstone-delete ids (vec_id column)
  * graft.cli.Main pq-compact <idxDir>                          // fold tombstones into a fresh codes generation
  * graft.cli.Main ann-eval <embeddings> [k] [planes] [probeBits] [dim] [sampleMod]
  * graft.cli.Main pq-eval <embeddings> [k] [m] [kcb] [nprobe] [dim] [sampleMod] [--cell=<col>]   // raw vs residual vs re-rank recall
  * graft.cli.Main pack    <corpus> <outDir> [budget] [--jsonl] [--simple-tokens]
  * graft.cli.Main mix     <corpus> <outDir> [budget] [seed] [--jsonl] [--simple-tokens] [--alpha A] [--unimax E]
  * graft.cli.Main split   <corpus> <outDir> [seed] [--jsonl]   // writes PARQUET partitioned by split= (the exception: splits are storage layout, not a doc stream)
  * graft.cli.Main chunk   <corpus> <outDir> [size] [overlap] [--jsonl]
  * graft.cli.Main gopher  <corpus> <outDir> [minWords] [--report] [--jsonl]
  * graft.cli.Main dsir    <corpus> <target> <outDir> [buckets] [--report] [--jsonl]
  * graft.cli.Main ppl     <corpus> <target> <outDir> [buckets] [--jsonl]
  * graft.cli.Main warc-ingest <warcGlob> <outDir> [maxPayloadBytes]   // crawl -> clean-text corpus
  * graft.cli.Main wet-ingest <wetGlob> <outDir> [maxPayloadBytes]   // Common Crawl WET -> text corpus
  * graft.cli.Main decode-image <parquet> <outDir>   // (doc_id, media) binary column
  * graft.cli.Main decode-audio <parquet> <outDir>   // WAV/AIFF/AU metadata + RMS
  * graft.cli.Main mp3-meta <parquet> <outDir>   // MP3 frame-header metadata (codec-free)
  * graft.cli.Main tfidf   <corpus> <outDir> [--jsonl]
  * graft.cli.Main sample  <corpus> <outDir> [n] [seed] [--jsonl]
  * graft.cli.Main shuffle <corpus> <outDir> [shards] [seed] [--jsonl]  // parquet shard= layout
  * graft.cli.Main upsert  <base> <updates> <keyCol> <versionCol> <out>
  * graft.cli.Main classify <corpus> <model.txt> <outDir> [--report] [--jsonl]
  * graft.cli.Main train <corpus> <labelCol> <labelValue> <outDir> [minCount] [--jsonl]   // NB log-odds weights
  * graft.cli.Main divergence <corpus> [groupCol] [buckets] [--jsonl]
  * graft.cli.Main buckets <corpus> <target> <outDir> [--jsonl]  // ppl head/middle/tail
  * graft.cli.Main dhash   <parquet> <outDir> [maxBits]   // image near-dup pairs
  * graft.cli.Main phrase  <corpus> <outDir> "<exact phrase>" [--jsonl]
  * graft.cli.Main bpe-learn <corpus> <outDir> [rounds] [--jsonl] [--distributed]
  * graft.cli.Main quantiles <parquet> <keyCol> <valCol> [k]   // sketch-tier p50/p90/p99
  * graft.cli.Main outliers <parquet> <keyCol> <valCol> [k] [c]   // sketch-tier median/MAD screen
  * graft.cli.Main emb-drift <oldEmb> <newEmb> <groupCol> [dim]   // cross-snapshot mean-vector cosine
  * graft.cli.Main fk-audit <child> <childKey> <parent> <parentKey>   // referential-integrity orphan screen
  * graft.cli.Main scd2 <parquet> <keyCol> <tsCol> <tieCol> <attrCol> <outDir>   // SCD2 version history
  * graft.cli.Main snapshot-diff <old> <new> <keyCols,csv> <cmpCols,csv>   // per-commit change audit
  * graft.cli.Main roc-auc <parquet> <groupCol> <scoreCol> <labelCol>   // rank-sum AUC per group
  * graft.cli.Main kappa <parquet> <colA> <colB>   // inter-annotator agreement
  * graft.cli.Main ohlc <parquet> <tsCol> <tieCol> <valCol> <outDir> [bucketSec]   // candlestick bars
  * graft.cli.Main trend <events> <groupCol> [tsCol]   // Mann-Kendall daily-count trend screen
  * graft.cli.Main changepoint <events> <groupCol> [tsCol]   // CUSUM step locator
  * graft.cli.Main acf <events> <groupCol> [maxLag] [tsCol]   // daily-series autocorrelation
  * graft.cli.Main survival <events> <userCol> [tsCol]   // Kaplan-Meier lifetime curve
  * graft.cli.Main fingerprint <parquet> <groupCol> <cols,csv>   // order-free content hash
  * graft.cli.Main agg-state <batch> <groupCol> <valCol> <distinctCol> <stateDir>   // init/merge mergeable agg state
  * graft.cli.Main welch <parquet> <valCol> <boolVariantCol>   // unequal-variance t-test
  * graft.cli.Main theil <events> <groupCol> [tsCol]   // robust daily-trend slope
  * graft.cli.Main blocklist <corpus> "<terms,csv>" [--jsonl]   // Aho-Corasick one-pass screen
  * graft.cli.Main pagerank <edges> <outDir> [iters] [damping]   // link-graph quality prior
  * graft.cli.Main harmonic <edges> <outDir> [rounds] [k]   // HyperBall harmonic centrality
  * graft.cli.Main triangles <edges> <outDir>   // degree-ordered triangle counts
  * graft.cli.Main kcore <edges> <outDir> [k] [rounds]   // link-ring screen
  * graft.cli.Main fix-encoding <corpus> <outDir> [--jsonl]   // mojibake repair + NFC
  * graft.cli.Main pii <corpus> <outDir> [--jsonl]   // url/email/card(Luhn)/phone redact
  * graft.cli.Main robots-filter <urls> <robots> <outDir> [agent]   // politeness filter
  * graft.cli.Main report <corpus> [--jsonl]   // dataset-card overview
  * graft.cli.Main exif <parquet> <outDir>   // JPEG EXIF orientation/make/model
  * graft.cli.Main mp4-meta <parquet> <outDir>   // ISO-BMFF container metadata
  * }}}
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
    val a = args.toList
    if (statsCli.isDefinedAt(a)) statsCli(a) else mainImpl(a)
  }

  /** The analytics/stats command block, split out of [[mainImpl]] —
    * the single match had outgrown the JVM's 64 KB method limit.
    */
  private val statsCli: PartialFunction[List[String], Unit] = {
    case "spearman" :: path :: groupCol :: aCol :: bCol :: Nil =>
      import org.apache.spark.sql.functions._
      val spark = session()
      graft.operators.Relational.spearmanByGroup(
        spark.read.parquet(path), groupCol, col(aCol), col(bCol))
        .collect().sortBy(_.get(0).toString).foreach { r =>
          val rho = if (r.isNullAt(2)) "n/a" else r.getDouble(2).toString
          println(s"[spearman] ${r.get(0)}: rho=$rho (n=${r.getLong(1)})")
        }
      done(spark)

    // Benford first-digit screen over a numeric column (milli-snap)
    case "benford" :: path :: valCol :: Nil =>
      import org.apache.spark.sql.functions._
      val spark = session()
      graft.operators.Relational.benfordScreen(
        spark.read.parquet(path),
        round(col(valCol).cast("double") * lit(1000.0)).cast("long"))
        .collect().sortBy(_.getInt(0)).foreach { r =>
          println(s"[benford] d=${r.getInt(0)} n=${r.getLong(1)} " +
            s"obs=${r.getLong(2) / 1e4}% exp=${r.getLong(3) / 1e4}% " +
            s"dev=${r.getLong(4) / 1e4}pp")
        }
      done(spark)

    // chi-square independence of two categorical columns
    case "chisq" :: path :: rowCol :: colCol :: Nil =>
      val spark = session()
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
      done(spark)

    // mean reciprocal rank over a (qid, rank, rel) parquet
    case "mrr" :: path :: qidCol :: rankCol :: relCol :: Nil =>
      import org.apache.spark.sql.functions._
      val spark = session()
      val r = graft.operators.Relational.mrrAtRank(
        spark.read.parquet(path), col(qidCol), col(rankCol),
        col(relCol)).head()
      println(s"[mrr] mrr=${r.getDouble(2)} " +
        s"(${r.getLong(0)}/${r.getLong(1)} queries answered)")
      done(spark)

    // ROUGE/BLEU generation scores over (id, cand, ref) string columns
    case "rouge" :: path :: idCol :: candCol :: refCol :: rest =>
      import org.apache.spark.sql.functions._
      val spark = session()
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
      done(spark)

    // STL-lite decomposition of the daily count series
    case "stl" :: path :: groupCol :: outDir :: rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.filter(!_.startsWith("--")).headOption
        .getOrElse("ts")
      val hw = rest.filter(!_.startsWith("--")).drop(1).headOption
        .map(_.toInt).getOrElse(3)
      val spark = session()
      val out = graft.operators.TimeSeries.decomposeDaily(
        graft.operators.TimeSeries.dailyCounts(
          spark.read.parquet(path), groupCol, col(tsCol)),
        groupCol, hw)
      out.write.mode("overwrite").parquet(outDir)
      println(s"[stl] ${out.count()} day rows (halfWindow=$hw) -> " +
        outDir)
      done(spark)

    // Nelson-Aalen cumulative hazard over user lifetimes
    case "hazard" :: path :: rest =>
      import org.apache.spark.sql.functions.col
      val userCol = rest.headOption.getOrElse("user_id")
      val tsCol = rest.drop(1).headOption.getOrElse("ts")
      val spark = session()
      graft.operators.TimeSeries.nelsonAalen(
        spark.read.parquet(path), userCol, col(tsCol))
        .orderBy(col("t_day")).collect().foreach { r =>
          println(s"[hazard] t=${r.getLong(0)} at_risk=${r.getLong(1)} " +
            s"churned=${r.getLong(2)} censored=${r.getLong(3)} " +
            s"cumhaz_micro=${r.getLong(4)}")
        }
      done(spark)

    // seasonal-naive forecast backtest of the daily count series
    case "snaive" :: path :: groupCol :: rest =>
      import org.apache.spark.sql.functions.col
      val period = rest.headOption.map(_.toInt).getOrElse(7)
      val tsCol = rest.drop(1).headOption.getOrElse("ts")
      val spark = session()
      graft.operators.TimeSeries.seasonalNaiveBacktest(
        graft.operators.TimeSeries.dailyCounts(
          spark.read.parquet(path), groupCol, col(tsCol)),
        groupCol, period)
        .orderBy(col(groupCol)).collect().foreach { r =>
          println(s"[snaive] ${r.get(0)}: n=${r.getLong(1)} " +
            s"mae_micro=${r.getLong(2)} smape_micro=${r.getLong(3)}")
        }
      done(spark)

    // Krippendorff's alpha over a long (item, value) rating table
    case "alpha" :: path :: itemCol :: valueCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.krippendorffAlpha(
        spark.read.parquet(path), col(itemCol), col(valueCol)).head()
      println(s"[alpha] n_items=${r.getLong(0)} " +
        s"n_ratings=${r.getLong(1)} do_micro=${r.getLong(2)} " +
        s"de_micro=${r.getLong(3)} alpha_micro=${r.get(4)}")
      done(spark)

    // Benjamini-Hochberg FDR over a (id, p_micro) hypothesis table
    case "bh" :: path :: idCol :: pCol :: rest =>
      import org.apache.spark.sql.functions.col
      val alpha = rest.headOption.map(_.toLong).getOrElse(50000L)
      val spark = session()
      val out = graft.operators.Relational.bhFdr(
        spark.read.parquet(path), idCol, col(pCol), alpha)
      val n = out.filter(col("discovered")).count()
      println(s"[bh] $n discoveries at alpha_micro=$alpha")
      out.orderBy(col("rank")).collect().take(20).foreach { r =>
        println(s"  rank=${r.getAs[Int]("rank")} " +
          s"${r.get(0)} p_micro=${r.getAs[Long](pCol)} " +
          s"discovered=${r.getAs[Boolean]("discovered")}")
      }
      done(spark)

    // k-anonymity / l-diversity release audit
    case "kanon" :: path :: quasiCsv :: sensCol :: kArg :: lArg ::
        Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.kAnonymityAudit(
        spark.read.parquet(path),
        quasiCsv.split(',').toSeq.map(col(_)), col(sensCol),
        kArg.toLong, lArg.toLong).head()
      println(s"[kanon] n_rows=${r.getLong(0)} " +
        s"n_groups=${r.getLong(1)} k=${r.getLong(2)} " +
        s"l=${r.getLong(3)} groups_under_k=${r.getLong(4)} " +
        s"rows_under_k=${r.getLong(5)} min_group=${r.getLong(6)} " +
        s"groups_under_l=${r.getLong(7)}")
      done(spark)

    // z-order (Morton) clustering rewrite of a parquet table
    case "zorder" :: path :: xCol :: yCol :: outDir :: rest =>
      import org.apache.spark.sql.functions.col
      val bits = rest.headOption.map(_.toInt).getOrElse(16)
      val spark = session()
      val df = spark.read.parquet(path)
      graft.operators.Relational.zOrderLayout(df,
        col(xCol), col(yCol), bits)
        .write.mode("overwrite").parquet(outDir)
      println(s"[zorder] ${spark.read.parquet(outDir).count()} rows " +
        s"clustered on ($xCol, $yCol) -> $outDir")
      done(spark)

    // Hilbert-curve clustering (tighter locality than zorder)
    case "hilbert" :: path :: xCol :: yCol :: outDir :: rest =>
      import org.apache.spark.sql.functions.col
      val bits = rest.headOption.map(_.toInt).getOrElse(16)
      val spark = session()
      val df = spark.read.parquet(path)
      graft.operators.Relational.hilbertLayout(df,
        col(xCol), col(yCol), bits)
        .write.mode("overwrite").parquet(outDir)
      println(s"[hilbert] ${spark.read.parquet(outDir).count()} rows " +
        s"clustered on ($xCol, $yCol) -> $outDir")
      done(spark)

    // N-column clustering (3-4 quasi-key columns): Skilling n-D
    // Hilbert or n-D Morton interleave
    case "hilbert-n" :: path :: colsCsv :: outDir :: rest =>
      import org.apache.spark.sql.functions.col
      val bits = rest.headOption.map(_.toInt).getOrElse(16)
      val spark = session()
      val cols = colsCsv.split(',').toSeq.map(col)
      graft.operators.Relational.hilbertLayoutN(
        spark.read.parquet(path), cols, bits)
        .write.mode("overwrite").parquet(outDir)
      println(s"[hilbert-n] ${spark.read.parquet(outDir).count()} " +
        s"rows clustered on ($colsCsv) -> $outDir")
      done(spark)

    // unigram-LM (SentencePiece) tokenizer: learn a model, apply one
    case "unigram-learn" :: corpus :: outDir :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val vocab = nums.headOption.map(_.toInt).getOrElse(60)
      val iters = nums.drop(1).headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      val df = loadCorpus(spark, corpus, rest)
      val model = graft.text.TextOps.learnUnigramLm(df, "text",
        vocabSize = vocab, iters = iters)
      model.coalesce(1).write.mode("overwrite").parquet(outDir)
      println(s"[unigram-learn] " +
        s"${spark.read.parquet(outDir).count()} pieces -> $outDir")
      done(spark)

    case "unigram-apply" :: corpus :: modelDir :: outDir :: rest =>
      import org.apache.spark.sql.functions.{array_join, col, size}
      val spark = session()
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
      done(spark)

    // per-file Bloom side-car: build, then point-probe (report both
    // pruning tiers) or read through it
    case "bloom-index" :: path :: colName :: rest =>
      val m = rest.headOption.map(_.toInt).getOrElse(1 << 16)
      val k = rest.drop(1).headOption.map(_.toInt).getOrElse(2)
      val spark = session()
      graft.operators.Diagnose.writeBloomSidecar(spark, path, colName,
        m, k)
      val nPos = spark.read.parquet(s"$path/_bloom/$colName/pos")
        .count()
      println(s"[bloom-index] side-car on $colName: $nPos " +
        s"(file, pos) rows (m=$m, k=$k) -> $path/_bloom/$colName")
      done(spark)

    case "bloom-probe" :: path :: colName :: idsCsv :: rest =>
      val spark = session()
      val probes = idsCsv.split(',').toSeq.map(_.toLong)
      val r = graft.operators.Diagnose.bloomSkippingReport(spark,
        path, colName, probes).head()
      println(s"[bloom-probe] files=${r.getAs[Long]("n_files")} " +
        s"hit_minmax=${r.getAs[Long]("n_files_hit_minmax")} " +
        s"hit_bloom=${r.getAs[Long]("n_files_hit_bloom")} " +
        s"scanned_minmax=${r.getAs[Long]("n_rows_scanned_minmax")} " +
        s"scanned_bloom=${r.getAs[Long]("n_rows_scanned_bloom")} " +
        s"matched=${r.getAs[Long]("n_rows_matched")}")
      done(spark)

    case "bloom-read" :: path :: colName :: idsCsv :: outDir :: Nil =>
      val spark = session()
      val probes = idsCsv.split(',').toSeq.map(_.toLong)
      graft.operators.Diagnose.readWithBloom(spark, path, colName,
        probes).write.mode("overwrite").parquet(outDir)
      println(s"[bloom-read] " +
        s"${spark.read.parquet(outDir).count()} rows -> $outDir")
      done(spark)

    case "zorder-n" :: path :: colsCsv :: outDir :: rest =>
      import org.apache.spark.sql.functions.col
      val bits = rest.headOption.map(_.toInt).getOrElse(16)
      val spark = session()
      val cols = colsCsv.split(',').toSeq.map(col)
      graft.operators.Relational.zOrderLayoutN(
        spark.read.parquet(path), cols, bits)
        .write.mode("overwrite").parquet(outDir)
      println(s"[zorder-n] ${spark.read.parquet(outDir).count()} " +
        s"rows clustered on ($colsCsv) -> $outDir")
      done(spark)

    // Benjamini-Yekutieli flavor (arbitrary dependence)
    case "by" :: path :: idCol :: pCol :: rest =>
      import org.apache.spark.sql.functions.col
      val alpha = rest.headOption.map(_.toLong).getOrElse(50000L)
      val spark = session()
      val out = graft.operators.Relational.byFdr(
        spark.read.parquet(path), idCol, col(pCol), alpha)
      val n = out.filter(col("discovered")).count()
      println(s"[by] $n discoveries at alpha_micro=$alpha")
      done(spark)

    // hazard ratio + CI from the log-rank moments
    case "hr" :: path :: userCol :: flagCol :: rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.headOption.getOrElse("ts")
      val spark = session()
      val r = graft.operators.TimeSeries.hazardRatio(
        spark.read.parquet(path), userCol, col(tsCol),
        col(flagCol).cast("boolean")).head()
      println(s"[hr] n_users=${r.getLong(0)} n_a=${r.getLong(1)} " +
        s"hr_micro=${r.get(2)} ci=[${r.get(3)}, ${r.get(4)}]")
      done(spark)

    // 2x2 odds ratio with the Woolf CI
    case "oddsratio" :: path :: exposedCol :: outcomeCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.oddsRatio(
        spark.read.parquet(path), col(exposedCol).cast("boolean"),
        col(outcomeCol).cast("boolean")).head()
      println(s"[oddsratio] a=${r.getLong(0)} b=${r.getLong(1)} " +
        s"c=${r.getLong(2)} d=${r.getLong(3)} or_micro=${r.get(4)} " +
        s"ci=[${r.get(5)}, ${r.get(6)}]")
      done(spark)

    // two-sample Poisson rate-ratio test
    case "ratetest" :: path :: groupCol :: countCol :: expCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.poissonRateTest(
        spark.read.parquet(path), col(groupCol).cast("boolean"),
        col(countCol), col(expCol)).head()
      println(s"[ratetest] c_a=${r.getLong(0)} e_a=${r.getLong(1)} " +
        s"c_b=${r.getLong(2)} e_b=${r.getLong(3)} " +
        s"rr_micro=${r.get(4)} z_micro=${r.get(5)}")
      done(spark)

    // blocking-quality report: prefix/suffix name-half keys vs truth
    case "blocking-eval" :: path :: idCol :: truthCol :: nameCol ::
        rest =>
      import org.apache.spark.sql.functions.{col, substring}
      val halfLen = rest.headOption.map(_.toInt).getOrElse(6)
      val spark = session()
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
      done(spark)

    // personalized PageRank from a seed list
    case "ppr" :: edgesPath :: seedsPath :: outDir :: rest =>
      import org.apache.spark.sql.functions.col
      val iters = rest.headOption.map(_.toInt).getOrElse(5)
      val damping = rest.drop(1).headOption.map(_.toDouble)
        .getOrElse(0.85)
      val spark = session()
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
      done(spark)

    // Mann-Whitney U rank-sum test: groupCol (boolean) splits sides
    case "mwu" :: path :: valCol :: groupCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.mannWhitneyU(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(groupCol).cast("boolean"), col(valCol)).head()
      println(s"[mwu] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
        s"u_a_x2=${r.getLong(2)} u_b_x2=${r.getLong(3)} " +
        s"r_rb_micro=${r.getLong(4)} z_micro=${r.get(5)}")
      done(spark)

    // exact Gini concentration of an integer value column
    case "gini" :: path :: valCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.giniIndex(
        spark.read.parquet(path), col(valCol)).head()
      println(s"[gini] n=${r.getLong(0)} total=${r.getLong(1)} " +
        s"gini_micro=${r.get(2)}")
      done(spark)

    // Jensen-Shannon divergence between two sides of a flag column
    case "jsd" :: path :: catCol :: flagCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.jsDivergenceTotal(
        spark.read.parquet(path), col(catCol),
        col(flagCol).cast("boolean")).head()
      println(s"[jsd] n_categories=${r.getLong(0)} " +
        s"js_micro=${r.get(1)}")
      done(spark)

    // Cramér's V association strength of two categorical columns
    case "cramers" :: path :: rowCol :: colCol :: Nil =>
      val spark = session()
      val r = graft.operators.Relational.cramersV(
        spark.read.parquet(path), rowCol, colCol).head()
      println(s"[cramers] n=${r.getLong(0)} " +
        s"dims=${r.getLong(1)}x${r.getLong(2)} " +
        s"chi2_micro=${r.getLong(3)} v_micro=${r.getLong(4)}")
      done(spark)

    // Adamic-Adar link prediction: top-k likely missing edges
    case "adamic" :: edgesPath :: rest =>
      import org.apache.spark.sql.functions.col
      val topK = rest.headOption.map(_.toInt).getOrElse(20)
      val spark = session()
      graft.operators.LinkGraph.adamicAdar(
        spark.read.parquet(edgesPath).select("src", "dst"), topK)
        .collect().foreach { r =>
          println(s"[adamic] ${r.get(0)} -- ${r.get(1)}: " +
            s"common=${r.getAs[Long]("n_common")} " +
            s"aa_micro=${r.getAs[Long]("aa_micro")}")
        }
      done(spark)

    // mutual information + NMI between two categorical columns
    case "mi" :: path :: xCol :: yCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.mutualInformation(
        spark.read.parquet(path), col(xCol), col(yCol)).head()
      println(s"[mi] n=${r.getLong(0)} n_x=${r.getLong(1)} " +
        s"n_y=${r.getLong(2)} mi_micro=${r.getLong(3)} " +
        s"hx_micro=${r.getLong(4)} hy_micro=${r.getLong(5)} " +
        s"nmi_micro=${r.get(6)}")
      done(spark)

    // McNemar paired-classifier test over boolean pred/label columns
    case "mcnemar" :: path :: predACol :: predBCol :: labelCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.mcNemar(
        spark.read.parquet(path), col(predACol).cast("boolean"),
        col(predBCol).cast("boolean"), col(labelCol).cast("boolean"))
        .head()
      println(s"[mcnemar] n=${r.getLong(0)} b_only=${r.getLong(1)} " +
        s"c_only=${r.getLong(2)} chi2_micro=${r.get(3)} " +
        s"chi2_cc_micro=${r.get(4)}")
      done(spark)

    // restricted mean survival time at a day horizon
    case "rmst" :: path :: userCol :: tau :: rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.headOption.getOrElse("ts")
      val spark = session()
      val r = graft.operators.TimeSeries.rmst(
        spark.read.parquet(path), userCol, col(tsCol), tau.toLong)
        .head()
      println(s"[rmst] tau_day=${r.getLong(0)} " +
        s"n_users=${r.getLong(1)} rmst_micro=${r.getLong(2)}")
      done(spark)

    // degree assortativity: do hubs link to hubs?
    case "assortativity" :: edgesPath :: Nil =>
      val spark = session()
      val r = graft.operators.LinkGraph.degreeAssortativity(
        spark.read.parquet(edgesPath).select("src", "dst")).head()
      println(s"[assortativity] n_nodes=${r.getLong(0)} " +
        s"n_edges=${r.getLong(1)} r_micro=${r.get(2)}")
      done(spark)

    // Newman modularity of a community assignment over an edge list
    case "modularity" :: edgesPath :: assignPath :: Nil =>
      val spark = session()
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
      done(spark)

    // unsupervised Fellegi-Sunter: Winkler-EM weights from UNLABELED
    // candidate pairs (boolean comparison-field columns)
    case "fs-em" :: pairsPath :: fieldsCsv :: rest =>
      import org.apache.spark.sql.functions.col
      val iters = rest.headOption.map(_.toInt).getOrElse(5)
      val fields = fieldsCsv.split(',').toSeq.filter(_.nonEmpty)
      require(fields.nonEmpty, "usage: fs-em <pairs> <f1,f2,...> [iters]")
      val spark = session()
      graft.text.Dedup.fellegiSunterEM(
        spark.read.parquet(pairsPath),
        fields.map(f => f -> col(f).cast("boolean")), iters)
        .collect().foreach { r =>
          println(s"[fs-em] ${r.getString(0)}: " +
            s"p_micro=${r.getLong(1)} m_micro=${r.getLong(2)} " +
            s"u_micro=${r.getLong(3)} w_agree=${r.getLong(4)} " +
            s"w_disagree=${r.getLong(5)}")
        }
      done(spark)

    // Kendall tau-b rank correlation of two integer columns
    case "kendall" :: path :: aCol :: bCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.kendallTauB(
        spark.read.parquet(path), col(aCol), col(bCol)).head()
      println(s"[kendall] n=${r.getLong(0)} cells=${r.getLong(1)} " +
        s"c=${r.getLong(2)} d=${r.getLong(3)} tau_b_micro=${r.get(4)}")
      done(spark)

    // Cohen's d / Hedges' g effect size between two sides of a flag
    case "cohend" :: path :: valCol :: groupCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.cohensD(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(groupCol).cast("boolean"), col(valCol)).head()
      println(s"[cohend] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
        s"mean_a_micro=${r.getLong(2)} mean_b_micro=${r.getLong(3)} " +
        s"d_micro=${r.get(4)} g_micro=${r.get(5)}")
      done(spark)

    // log-rank two-group survival test over user lifetimes
    case "logrank" :: path :: userCol :: flagCol :: rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.headOption.getOrElse("ts")
      val spark = session()
      val r = graft.operators.TimeSeries.logRankTest(
        spark.read.parquet(path), userCol, col(tsCol),
        col(flagCol).cast("boolean")).head()
      println(s"[logrank] n_users=${r.getLong(0)} n_a=${r.getLong(1)} " +
        s"o_a=${r.getLong(2)} e_a_micro=${r.getLong(3)} " +
        s"v_micro=${r.getLong(4)} z_micro=${r.get(5)} " +
        s"chi2_micro=${r.get(6)}")
      done(spark)

    // Cohen's h + Wilson intervals for a two-arm proportion
    case "cohensh" :: path :: flagCol :: successCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.proportionEffect(
        spark.read.parquet(path), col(flagCol).cast("boolean"),
        col(successCol).cast("boolean")).head()
      println(s"[cohensh] a=${r.getLong(1)}/${r.getLong(0)} " +
        s"b=${r.getLong(3)}/${r.getLong(2)} h_micro=${r.get(4)} " +
        s"wilson_a=[${r.get(5)}, ${r.get(6)}] " +
        s"wilson_b=[${r.get(7)}, ${r.get(8)}]")
      done(spark)

    // Holm-Bonferroni step-down (family-wise error control)
    case "holm" :: path :: idCol :: pCol :: rest =>
      import org.apache.spark.sql.functions.col
      val alpha = rest.headOption.map(_.toLong).getOrElse(100000L)
      val spark = session()
      val out = graft.operators.Relational.holmAdjust(
        spark.read.parquet(path), idCol, col(pCol), alpha)
      val n = out.count()
      val disc = out.filter(col("discovered")).count()
      println(s"[holm] $disc/$n discovered at alpha_micro=$alpha")
      done(spark)

    // IPW treatment effect with a text-trained propensity model
    case "ipw" :: corpus :: tCol :: tVal :: yCol :: yVal :: rest =>
      import org.apache.spark.sql.functions.col
      val pos = rest.filter(!_.startsWith("--"))
      val dim = pos.headOption.map(_.toInt).getOrElse(16)
      val iters = pos.drop(1).headOption.map(_.toInt).getOrElse(3)
      val spark = session()
      val df = loadCorpus(spark, corpus, rest)
      val r = graft.text.Classifier.ipwEffect(df, "text", "doc_id",
        col(tCol) === tVal, col(yCol) === yVal, dim, iters).head()
      println(s"[ipw] n=${r.getLong(0)} treated=${r.getLong(1)} " +
        s"mu1_micro=${r.getLong(2)} mu0_micro=${r.getLong(3)} " +
        s"ate_micro=${r.getLong(4)}")
      done(spark)

    // doubly-robust AIPW: q318's IPW + per-arm outcome models
    case "aipw" :: corpus :: tCol :: tVal :: yCol :: yVal :: rest =>
      import org.apache.spark.sql.functions.col
      val pos = rest.filter(!_.startsWith("--"))
      val pDim = pos.headOption.map(_.toInt).getOrElse(16)
      val pIters = pos.drop(1).headOption.map(_.toInt).getOrElse(3)
      val oDim = pos.drop(2).headOption.map(_.toInt).getOrElse(pDim)
      val oIters = pos.drop(3).headOption.map(_.toInt)
        .getOrElse(pIters)
      val spark = session()
      val df = loadCorpus(spark, corpus, rest)
      val r = graft.text.Classifier.aipwEffect(df, "text", "doc_id",
        col(tCol) === tVal, col(yCol) === yVal, pDim, pIters, oDim,
        oIters).head()
      println(s"[aipw] n=${r.getLong(0)} treated=${r.getLong(1)} " +
        s"mu1_micro=${r.getLong(2)} mu0_micro=${r.getLong(3)} " +
        s"ate_micro=${r.getLong(4)}")
      done(spark)

    // Kish effective sample size of a weighted corpus
    case "kish" :: path :: wCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.kishNeff(
        spark.read.parquet(path).filter(col(wCol).isNotNull),
        col(wCol)).head()
      println(s"[kish] n=${r.getLong(0)} sum_w=${r.getLong(1)} " +
        s"n_eff_micro=${r.get(2)} deff_micro=${r.get(3)}")
      done(spark)

    // file-skipping audit: how well does the layout prune a range?
    case "skip-report" :: path :: valCol :: lo :: hi :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Diagnose.fileSkippingReport(spark, path,
        col(valCol), lo.toLong, hi.toLong).head()
      println(s"[skip-report] files=${r.getLong(2)}/${r.getLong(0)} " +
        s"rows_scanned=${r.getLong(3)}/${r.getLong(1)} " +
        s"matched=${r.getLong(4)} read_amp_micro=${r.get(5)}")
      done(spark)

    // Poisson dispersion screen over a per-unit count column
    case "dispersion" :: path :: countCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.poissonDispersion(
        spark.read.parquet(path).filter(col(countCol).isNotNull),
        col(countCol)).head()
      println(s"[dispersion] n=${r.getLong(0)} sum_x=${r.getLong(1)} " +
        s"dispersion_micro=${r.get(2)} z_micro=${r.get(4)}")
      done(spark)

    // DP count release (keyed-PRF Laplace noise; publish noisy only)
    case "dp-counts" :: path :: groupCol :: epsArg :: seed :: outDir ::
        Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      graft.operators.Relational.dpNoisyCounts(
        spark.read.parquet(path).filter(col(groupCol).isNotNull),
        Seq(col(groupCol)), epsArg.toDouble, seed)
        .withColumnRenamed("g0", groupCol)
        .drop("n") // the releasable artifact carries noisy_n only
        .write.mode("overwrite").parquet(outDir)
      println(s"[dp-counts] eps=$epsArg " +
        s"${spark.read.parquet(outDir).count()} noisy groups -> $outDir")
      done(spark)

    // anytime-valid A/B monitor (mSPRT): daily always-valid p path
    case "msprt" :: path :: flagCol :: successCol :: rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.headOption.getOrElse("ts")
      val spark = session()
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
      done(spark)

    // two-sample Kolmogorov-Smirnov over an integer value column
    case "ks" :: path :: flagCol :: valCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.ksTest(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(flagCol).cast("boolean"), col(valCol)).head()
      println(s"[ks] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
        s"d_micro=${r.get(2)} p_micro=${r.get(3)}")
      done(spark)

    // Adjusted Rand Index: clustering-vs-truth pair agreement
    case "ari" :: path :: aCol :: bCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.adjustedRandIndex(
        spark.read.parquet(path), col(aCol), col(bCol)).head()
      println(s"[ari] n=${r.getLong(0)} n_a=${r.getLong(1)} " +
        s"n_b=${r.getLong(2)} ari_micro=${r.get(6)}")
      done(spark)

    // CMH stratified 2x2 association + MH common odds ratio
    case "cmh" :: path :: stratCol :: expCol :: outCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.cmhTest(
        spark.read.parquet(path), col(stratCol),
        col(expCol).cast("boolean"), col(outCol).cast("boolean"))
        .head()
      println(s"[cmh] n_strata=${r.getLong(0)} n_rows=${r.getLong(1)} " +
        s"chi2_micro=${r.get(5)} or_micro=${r.get(6)} " +
        s"ci=[${r.get(7)}, ${r.get(8)}]")
      done(spark)

    // Mondrian k-anonymity generalizer: median-cut global recoding of
    // integer quasi-id columns until classes can't split above k
    case "mondrian" :: path :: qidCols :: kArg :: outDir :: rest =>
      import org.apache.spark.sql.functions.col
      val depth = rest.headOption.map(_.toInt).getOrElse(8)
      val spark = session()
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
      done(spark)

    // covariate-adjusted two-group survival comparison: per-stratum
    // O/E/V moments summed before the z / chi2 / pooled-HR fold
    case "logrank-strat" :: path :: userCol :: flagCol :: stratCol ::
        rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.headOption.getOrElse("ts")
      val spark = session()
      val r = graft.operators.TimeSeries.stratifiedLogRank(
        spark.read.parquet(path), userCol, col(tsCol),
        col(flagCol).cast("boolean"), col(stratCol)).head()
      println(s"[logrank-strat] n_users=${r.getLong(0)} " +
        s"n_a=${r.getLong(1)} n_strata=${r.getLong(2)} " +
        s"o_a=${r.getLong(3)} e_a_micro=${r.getLong(4)} " +
        s"v_micro=${r.getLong(5)} z_micro=${r.get(6)} " +
        s"hr_micro=${r.get(8)} ci=[${r.get(9)}, ${r.get(10)}]")
      done(spark)

    // trimmed + winsorized means of an integer value column
    case "trimmed" :: path :: valCol :: rest =>
      import org.apache.spark.sql.functions.col
      val trim = rest.headOption.map(_.toLong).getOrElse(100000L)
      val spark = session()
      val r = graft.operators.Relational.trimmedMeans(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(valCol), trim).head()
      println(s"[trimmed] n=${r.getLong(0)} k=${r.getLong(1)} " +
        s"mean_micro=${r.getLong(2)} trimmed_micro=${r.get(3)} " +
        s"winsorized_micro=${r.get(4)}")
      done(spark)

    // one-way ANOVA F + eta² across the groups of a category column
    case "anova" :: path :: valCol :: groupCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.anovaF(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(groupCol), col(valCol)).head()
      println(s"[anova] k=${r.getLong(0)} n=${r.getLong(1)} " +
        s"ssb_milli=${r.getLong(2)} ssw_milli=${r.getLong(3)} " +
        s"sst_milli=${r.getLong(4)} f_micro=${r.get(5)} " +
        s"eta2_micro=${r.get(6)}")
      done(spark)

    // Levene homogeneity-of-variance W across a category column
    case "levene" :: path :: valCol :: groupCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.leveneW(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(groupCol), col(valCol)).head()
      println(s"[levene] k=${r.getLong(0)} n=${r.getLong(1)} " +
        s"ssb_milli=${r.getLong(2)} ssw_milli=${r.getLong(3)} " +
        s"w_micro=${r.get(4)}")
      done(spark)

    // isotonic (PAV) calibration fit over a micro-score column
    case "isotonic" :: path :: scoreCol :: labelCol :: rest =>
      import org.apache.spark.sql.functions.col
      val bins = rest.headOption.map(_.toInt).getOrElse(100)
      val spark = session()
      val fit = graft.text.Classifier.isotonicFit(
        spark.read.parquet(path), col(scoreCol),
        col(labelCol).cast("boolean"), bins)
      fit.orderBy(col("bin")).collect().foreach { r =>
        println(s"[isotonic] bin=${r.getLong(0)} n=${r.getLong(1)} " +
          s"pos=${r.getLong(2)} cal_micro=${r.getLong(3)}")
      }
      done(spark)

    // quantile normalization: map each group's values onto the pooled
    // distribution by rank; writes the (grp, v) -> norm_v map
    case "qnorm" :: path :: valCol :: groupCol :: outDir :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val m = graft.operators.Relational.quantileNormalize(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(groupCol), col(valCol))
      m.write.mode("overwrite").parquet(outDir)
      println(s"[qnorm] ${spark.read.parquet(outDir).count()} " +
        s"(group, value) cells mapped -> $outDir")
      done(spark)

    // distributed logistic-regression training over hashed features
    case "logistic" :: corpus :: labelCol :: labelValue :: outDir ::
        rest =>
      import org.apache.spark.sql.functions.col
      val pos = rest.filter(!_.startsWith("--"))
      val dim = pos.headOption.map(_.toInt).getOrElse(16)
      val iters = pos.drop(1).headOption.map(_.toInt).getOrElse(3)
      val spark = session()
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
      done(spark)

    // score a corpus through persisted logistic weights
    case "logistic-score" :: corpus :: weightsDir :: outDir :: rest =>
      val spark = session()
      val df = loadCorpus(spark, corpus, rest)
      val w = spark.read.parquet(weightsDir)
      graft.text.Classifier.logisticScore(df, "text", "doc_id", w)
        .write.mode("overwrite").parquet(outDir)
      println(s"[logistic-score] " +
        s"${spark.read.parquet(outDir).count()} docs scored -> $outDir")
      done(spark)

    // Cochran's Q across k boolean prediction columns
    case "cochran" :: path :: predsCsv :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val preds = predsCsv.split(',').toSeq
        .map(c => col(c).cast("boolean"))
      val r = graft.operators.Relational.cochranQ(
        spark.read.parquet(path), preds).head()
      println(s"[cochran] n=${r.getLong(0)} k=${r.getLong(1)} " +
        s"q_micro=${r.get(2)}")
      done(spark)

    // Friedman blocked-rank test across k value columns
    case "friedman" :: path :: valsCsv :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.friedmanChi2(
        spark.read.parquet(path),
        valsCsv.split(',').toSeq.map(col(_))).head()
      println(s"[friedman] n=${r.getLong(0)} k=${r.getLong(1)} " +
        s"chi2_micro=${r.get(2)}")
      done(spark)

    // median + MAD + robust sigma of an integer value column
    case "mad" :: path :: valCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.medianAbsDeviation(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(valCol)).head()
      println(s"[mad] n=${r.getLong(0)} median_micro=${r.getLong(1)} " +
        s"mad_micro=${r.getLong(2)} sigma_micro=${r.getLong(3)}")
      done(spark)

    // two-proportion z-test over boolean group/success columns
    case "propz" :: path :: groupCol :: successCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.twoProportionZ(
        spark.read.parquet(path), col(groupCol).cast("boolean"),
        col(successCol)).head()
      println(s"[propz] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
        s"x_a=${r.getLong(2)} x_b=${r.getLong(3)} " +
        s"diff_micro=${r.get(4)} z_micro=${r.get(5)} " +
        s"ci=[${r.get(6)}, ${r.get(7)}]")
      done(spark)

    // Kruskal-Wallis H rank test across the groups of a category column
    case "kruskal" :: path :: valCol :: groupCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.kruskalWallisH(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(groupCol), col(valCol)).head()
      println(s"[kruskal] k=${r.getLong(0)} n=${r.getLong(1)} " +
        s"h_micro=${r.get(2)} h_tie_micro=${r.get(3)}")
      done(spark)

    // Chao1 + Good-Turing vocabulary-richness report over a corpus
    case "vocab-richness" :: path :: rest =>
      val spark = session()
      val r = graft.text.TextOps.vocabRichness(
        loadCorpus(spark, path, rest), "text").head()
      println(s"[vocab-richness] n_tokens=${r.getLong(0)} " +
        s"n_types=${r.getLong(1)} f1=${r.getLong(2)} " +
        s"f2=${r.getLong(3)} chao1_micro=${r.getLong(4)} " +
        s"coverage_micro=${r.getLong(5)}")
      done(spark)

    // Poisson-bootstrap CI for a mean (the distributed bootstrap)
    case "bootstrap-ci" :: path :: keyCol :: valCol :: rest =>
      import org.apache.spark.sql.functions.col
      val b = rest.headOption.map(_.toInt).getOrElse(32)
      val alpha = rest.drop(1).headOption.map(_.toLong)
        .getOrElse(100000L)
      val spark = session()
      val r = graft.operators.Relational.poissonBootstrapCI(
        spark.read.parquet(path).filter(col(valCol).isNotNull),
        col(keyCol), col(valCol), b, alpha).head()
      println(s"[bootstrap-ci] n=${r.getLong(0)} B=${r.getLong(1)} " +
        s"mean_micro=${r.getLong(2)} " +
        s"ci_micro=[${r.get(3)}, ${r.get(4)}]")
      done(spark)

  }

  private def mainImpl(a: List[String]): Unit = a match {
    case "ingest" :: input :: poolRoot :: rest =>
      val vintage = rest.find(!_.startsWith("--")).getOrElse("canonical")
      val config = Vintages.byName.getOrElse(vintage,
        sys.error(s"unknown vintage $vintage; " +
          s"one of ${Vintages.byName.keys.mkString(", ")}"))
      val dryRun = rest.contains("--dry-run")
      val spark = session()
      val res = Ingest.run(spark, input, poolRoot, config, dryRun)
      println(s"[ingest] rows=${res.summary.rows} " +
        s"games=${res.summary.games} plays=${res.summary.plays} " +
        s"maxFrame=${res.summary.maxFrame.getOrElse(-1)} " +
        s"badFiles=${res.badFiles.size}")
      res.badFiles.foreach(f => println(s"[ingest]   skipped: $f"))
      done(spark)

    case "dump" :: poolRoot :: outDir :: rest =>
      val n = rest.headOption.map(_.toInt).getOrElse(10)
      val seed = rest.drop(1).headOption.map(_.toLong).getOrElse(42L)
      val spark = session()
      Export.csvSingle(Pool(spark, poolRoot).samplePlays(n, Nil, seed),
        outDir)
      println(s"[dump] $n plays (seed $seed) → $outDir")
      done(spark)

    case "diagnose" :: poolRoot :: Nil =>
      val spark = session()
      val rep = Diagnose(spark, poolRoot)
      println(s"[diagnose] rootExists=${rep.rootExists} " +
        s"parquetFiles=${rep.parquetFiles} " +
        s"fields=${rep.schemaFields.size} oneRow=${rep.oneRowFetchable} " +
        s"healthy=${rep.healthy}")
      done(spark)
      if (!rep.healthy) sys.exit(1)

    case "stats" :: poolRoot :: Nil =>
      val spark = session()
      val rows = Ingest.partitionStats(spark, poolRoot)
        .orderBy("season", "gameId").collect()
      rows.foreach(r => println(s"[stats] ${r.mkString(" ")}"))
      println(s"[stats] ${rows.length} partitions")
      done(spark)

    case "compact" :: poolRoot :: rest =>
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
      val spark = session()
      Ingest.compactPool(spark, poolRoot, pred)
      println(s"[compact] $poolRoot rewritten")
      done(spark)

    case "dedup" :: corpus :: outDir :: rest =>
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      // --index <path>: near-dedup joins a persisted signature index
      // (sign-index command) instead of re-signing the corpus per run
      val idxPath = rest.dropWhile(_ != "--index").drop(1).headOption
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
      done(spark)

    case "sign-index" :: corpus :: outDir :: rest =>
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      graft.text.Dedup.writeSignedIndex(docs, outDir, "text", "doc_id")
      println(s"[sign-index] ${docs.count()} docs signed -> $outDir")
      done(spark)

    // sign and append a NEW batch to a persisted signature index
    // (parameters validated against the index's meta)
    case "sign-append" :: corpus :: indexDir :: rest =>
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      graft.text.Dedup.appendToSignedIndex(docs, indexDir, "text",
        "doc_id")
      println(s"[sign-append] ${docs.count()} docs appended " +
        s"-> $indexDir")
      done(spark)

    // tombstone documents out of a persisted signature index
    case "sign-delete" :: idsPath :: indexDir :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val retain = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      graft.text.Dedup.deleteFromSignedIndex(
        spark.read.parquet(idsPath), indexDir, idCol, retain)
      println(s"[sign-delete] tombstone batch committed to $indexDir")
      done(spark)

    // the committed signed-index snapshots still inside the window
    case "sign-generations" :: indexDir :: Nil =>
      val spark = session()
      val gens = graft.text.Dedup.signedGenerations(spark, indexDir)
      println(s"[sign-generations] ${gens.mkString(",")}")
      done(spark)

    // compact a persisted signature index (rewrite minus tombstones)
    case "sign-compact" :: indexDir :: rest =>
      val retain = rest.headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      graft.text.Dedup.compactSignedIndex(spark, indexDir, retain)
      println(s"[sign-compact] $indexDir rewritten; " +
        s"${graft.text.Dedup.readSignedIndex(spark, indexDir).count()} " +
        "live signatures")
      done(spark)

    case "decontaminate" :: corpus :: evalPath :: outDir :: rest =>
      val k = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(13)
      val spark = session()
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
      done(spark)

    case "clean" :: corpus :: evalPath :: outDir :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val minQ = nums.headOption.map(_.toDouble).getOrElse(0.0)
      val maxDup = nums.drop(1).headOption.map(_.toDouble).getOrElse(1.0)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      val eval = loadCorpus(spark, evalPath, rest)
      val kept = graft.text.Pipeline.cleanCorpus(docs, eval,
        "text", "doc_id", minQuality = minQ, maxDupRatio = maxDup)
      Export.jsonl(kept, outDir)
      println(s"[clean] ${docs.count()} docs -> ${kept.count()} kept " +
        s"(minQuality=$minQ maxDupRatio=$maxDup) -> $outDir")
      done(spark)

    case "audit" :: corpus :: evalPath :: outDir :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val minQ = nums.headOption.map(_.toDouble).getOrElse(0.0)
      val maxDup = nums.drop(1).headOption.map(_.toDouble).getOrElse(1.0)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      val eval = loadCorpus(spark, evalPath, rest)
      val audit = graft.text.Pipeline.removalAudit(docs, eval,
        "text", "doc_id", minQuality = minQ, maxDupRatio = maxDup)
      Export.jsonl(audit, outDir)
      val byTier = audit.groupBy("verdict").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"[audit] ${docs.count()} docs audited ($byTier) -> $outDir")
      done(spark)

    // persist the audit as the run's lineage ARTIFACT (narrow
    // id/verdict parquet) — downstream consumers read it instead of
    // re-scoring the corpus
    case "audit-store" :: corpus :: evalPath :: auditDir :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val minQ = nums.headOption.map(_.toDouble).getOrElse(0.0)
      val maxDup = nums.drop(1).headOption.map(_.toDouble).getOrElse(1.0)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      val eval = loadCorpus(spark, evalPath, rest)
      graft.text.Pipeline.writeRemovalAudit(
        graft.text.Pipeline.removalAudit(docs, eval, "text", "doc_id",
          minQuality = minQ, maxDupRatio = maxDup), auditDir)
      println(s"[audit-store] audit artifact -> $auditDir")
      done(spark)

    // the production preflight: per-verdict counts off the persisted
    // artifact — zero corpus scans
    case "preflight" :: auditDir :: Nil =>
      val spark = session()
      val counts = graft.text.Pipeline.preflightFromAudit(
        graft.text.Pipeline.readRemovalAudit(spark, auditDir))
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
        .sorted.mkString(" ")
      println(s"[preflight] $counts")
      done(spark)

    case "distinct" :: corpus :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val k = nums.headOption.map(_.toInt).getOrElse(128)
      val spark = session()
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
      done(spark)

    case "freq" :: corpus :: rest =>
      val terms = rest.filter(!_.startsWith("--"))
      require(terms.nonEmpty, "usage: freq <corpus> <term> [term...]")
      val spark = session()
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
      done(spark)

    case "ann-index" :: corpus :: outDir :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val planes = nums.headOption.map(_.toInt).getOrElse(12)
      val dim = nums.drop(1).headOption.map(_.toInt).getOrElse(64)
      val spark = session()
      val emb = spark.read.parquet(corpus)
      graft.sim.SimSearch.writeAnnIndex(emb, outDir, "vec_id", "embedding",
        planes, dim)
      println(s"[ann-index] ${emb.count()} vectors bucketed " +
        s"(planes=$planes) -> $outDir")
      done(spark)

    // append new vectors to a persisted ANN index (validated against
    // the persisted LSH meta; caller deduped the ids upstream)
    case "ann-append" :: corpus :: indexDir :: Nil =>
      val spark = session()
      val emb = spark.read.parquet(corpus)
      graft.sim.SimSearch.appendToAnnIndex(emb, indexDir,
        "vec_id", "embedding")
      println(s"[ann-append] +${emb.count()} vectors -> $indexDir " +
        s"(${graft.sim.SimSearch.readAnnIndex(spark, indexDir).count()}" +
        " live)")
      done(spark)

    // tombstone-delete ids from a persisted ANN index (ids-only
    // batch + one _live marker PUT; nothing rewritten)
    case "ann-delete" :: idsPath :: indexDir :: rest =>
      val retain = rest.headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      graft.sim.SimSearch.deleteFromAnnIndex(
        spark.read.parquet(idsPath), indexDir, retain)
      println("[ann-delete] index now serves " +
        s"${graft.sim.SimSearch.readAnnIndex(spark, indexDir).count()}" +
        " live vectors")
      done(spark)

    // compact a persisted ANN index (fold tombstones into a fresh
    // marker-committed vectors generation)
    case "ann-compact" :: indexDir :: rest =>
      val retain = rest.headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      graft.sim.SimSearch.compactAnnIndex(spark, indexDir, retain)
      println("[ann-compact] compacted to " +
        s"${graft.sim.SimSearch.readAnnIndex(spark, indexDir).count()}" +
        " vectors")
      done(spark)

    // list the ANN index snapshots still inside the retention window
    case "ann-generations" :: indexDir :: Nil =>
      val spark = session()
      val gens = graft.sim.SimSearch.annGenerations(spark, indexDir)
      println(s"[ann-generations] ${gens.mkString(",")}")
      done(spark)

    case "ann-query" :: idxPath :: queries :: outDir :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val k = nums.headOption.map(_.toInt).getOrElse(10)
      val planes = nums.drop(1).headOption.map(_.toInt).getOrElse(12)
      val dim = nums.drop(2).headOption.map(_.toInt).getOrElse(64)
      val gen = rest.find(_.startsWith("--gen="))
        .map(_.stripPrefix("--gen=").toLong)
      val spark = session()
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
      done(spark)

    // persist the IVF-PQ index: codebooks + cell-partitioned codes +
    // centroids (cells default to label; pass a cell column name)
    case "pq-index" :: corpus :: outDir :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val m = nums.headOption.map(_.toInt).getOrElse(4)
      val k = nums.drop(1).headOption.map(_.toInt).getOrElse(16)
      val iters = nums.drop(2).headOption.map(_.toInt).getOrElse(2)
      val dim = nums.drop(3).headOption.map(_.toInt).getOrElse(64)
      val cellCol = nums.drop(4).headOption.getOrElse("label")
      val residual = rest.contains("--residual")
      val opq = rest.contains("--opq") // implies residual encoding
      val opqDense = rest.contains("--opq-dense") // dense rotation tier
      val spark = session()
      val emb = spark.read.parquet(corpus)
      if (opqDense)
        graft.sim.SimSearch.writePqIndexResidualRotatedDense(emb,
          outDir, "vec_id", "embedding", cellCol, m, k, iters, dim)
      else if (opq)
        graft.sim.SimSearch.writePqIndexResidualRotated(emb, outDir,
          "vec_id", "embedding", cellCol, m, k, iters, dim)
      else if (residual)
        graft.sim.SimSearch.writePqIndexResidual(emb, outDir, "vec_id",
          "embedding", cellCol, m, k, iters, dim)
      else
        graft.sim.SimSearch.writePqIndex(emb, outDir, "vec_id",
          "embedding", cellCol, m, k, iters, dim)
      println(s"[pq-index] ${emb.count()} vectors -> m=$m k=$k " +
        s"residual=${residual || opq || opqDense} opq=$opq " +
        s"opqDense=$opqDense codes + codebooks + centroids -> $outDir")
      done(spark)

    // incrementally append new vectors to a persisted PQ index: frozen
    // codebooks/centroids, probe-metric cell assignment, idempotent
    case "pq-append" :: idxPath :: corpus :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val m = nums.headOption.map(_.toInt).getOrElse(4)
      val dim = nums.drop(1).headOption.map(_.toInt).getOrElse(64)
      val spark = session()
      val emb = spark.read.parquet(corpus)
      graft.sim.SimSearch.appendToPqIndex(emb, idxPath, "vec_id",
        "embedding", m, dim)
      val n = graft.sim.SimSearch.readPqIndex(spark, idxPath)._2
        .select("vec_id").distinct().count()
      println(s"[pq-append] index now holds $n vectors -> $idxPath")
      done(spark)

    // tombstone-delete ids from a persisted PQ index (an ids-only
    // parquet with a vec_id column — e.g. the removal-audit artifact)
    case "pq-delete" :: idxPath :: idsPath :: rest =>
      val retain = rest.headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      val ids = spark.read.parquet(idsPath).select("vec_id")
      graft.sim.SimSearch.deleteFromPqIndex(ids, idxPath, retain)
      val n = graft.sim.SimSearch.readPqIndex(spark, idxPath)._2
        .select("vec_id").distinct().count()
      println(s"[pq-delete] tombstoned ${ids.distinct().count()} ids; " +
        s"index now serves $n vectors -> $idxPath")
      done(spark)

    // fold accumulated tombstones (and append small-files) into a
    // fresh compacted codes generation
    case "pq-compact" :: idxPath :: rest =>
      val retain = rest.headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      graft.sim.SimSearch.compactPqIndex(spark, idxPath, retain)
      val n = graft.sim.SimSearch.readPqIndex(spark, idxPath)._2
        .select("vec_id").distinct().count()
      println(s"[pq-compact] compacted codes generation holds $n " +
        s"vectors -> $idxPath")
      done(spark)

    // takedown: tombstone ids out of every given index family in one
    // call and print the per-id audit certificate
    case "takedown" :: idsPath :: rest =>
      def flagArg(name: String): Option[String] = {
        val i = rest.indexOf(name)
        if (i >= 0 && i + 1 < rest.length) Some(rest(i + 1)) else None
      }
      val retain = flagArg("--retain").map(_.toInt).getOrElse(1)
      val idCol = flagArg("--id").getOrElse("doc_id")
      val spark = session()
      val audit = graft.operators.Takedown(spark,
        spark.read.parquet(idsPath), idCol,
        bm25Path = flagArg("--bm25"), annPath = flagArg("--ann"),
        pqPath = flagArg("--pq"), pqIdCol = flagArg("--pq-id"),
        signedPath = flagArg("--signed"),
        poolPath = flagArg("--pool"), retain = retain)
      val rows = audit.collect()
      val gone = rows.forall(r => audit.columns.zipWithIndex.collect {
        case (c, i) if c.startsWith("gone_") => r.getBoolean(i)
      }.forall(identity))
      rows.take(10).foreach(r => println(s"[takedown] $r"))
      println(s"[takedown] ${rows.length} targets, certificate " +
        (if (gone) "CLEAN (all gone)" else "FAILED (still serving!)"))
      if (!gone) sys.exit(3)
      done(spark)

    // index-freshness drift: corpus ids vs a persisted BM25 index's
    // live ids (use the library API for the other families)
    case "index-drift" :: corpusPath :: bm25Dir :: rest =>
      import org.apache.spark.sql.functions.col
      val idCol = rest.headOption.getOrElse("doc_id")
      val spark = session()
      val r = graft.operators.Diagnose.indexDriftReport(
        spark.read.parquet(corpusPath).select(col(idCol)),
        graft.text.Bm25.bm25IndexIds(spark, bm25Dir, idCol),
        idCol).head()
      println(s"[index-drift] corpus=${r.getLong(0)} " +
        s"index=${r.getLong(1)} missing=${r.getLong(2)} " +
        s"extra=${r.getLong(3)}")
      done(spark)

    // measure-and-FIX drift for the doc-corpus families: extras
    // tombstone out, missing re-append, re-audit must read zero
    // (vector families: the DriftRepair library API)
    case "drift-repair" :: corpusPath :: rest =>
      def drFlag(name: String): Option[String] = {
        val i = rest.indexOf(name)
        if (i >= 0 && i + 1 < rest.length) Some(rest(i + 1)) else None
      }
      val idCol = drFlag("--id").getOrElse("doc_id")
      val textCol = drFlag("--text").getOrElse("text")
      val retain = drFlag("--retain").map(_.toInt).getOrElse(1)
      val spark = session()
      val rep = graft.operators.DriftRepair(spark,
        docCorpus = Some(spark.read.parquet(corpusPath)),
        docIdCol = idCol, textCol = textCol,
        bm25Path = drFlag("--bm25"), signedPath = drFlag("--signed"),
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
      if (!clean) sys.exit(3)
      done(spark)

    // marker-committed document pool: bootstrap / per-bucket upsert /
    // id-pruned physical remove / resolved read (gen = time travel)
    case "docpool-write" :: inPath :: poolRoot :: rest =>
      val buckets = rest.headOption.map(_.toInt).getOrElse(64)
      val idCol = rest.lift(1).getOrElse("doc_id")
      val retain = rest.lift(2).map(_.toInt).getOrElse(1)
      val spark = session()
      graft.operators.DocPool.write(spark.read.parquet(inPath),
        poolRoot, idCol, buckets, retain)
      println(s"[docpool-write] committed " +
        s"${graft.operators.DocPool.read(spark, poolRoot).count()} " +
        s"rows into $poolRoot")
      done(spark)

    case "docpool-upsert" :: inPath :: poolRoot :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val retain = rest.lift(1).map(_.toInt).getOrElse(1)
      val spark = session()
      graft.operators.DocPool.upsert(spark.read.parquet(inPath),
        poolRoot, idCol, retain)
      println(s"[docpool-upsert] pool now holds " +
        s"${graft.operators.DocPool.read(spark, poolRoot).count()} rows")
      done(spark)

    case "docpool-remove" :: idsPath :: poolRoot :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val retain = rest.lift(1).map(_.toInt).getOrElse(1)
      val spark = session()
      graft.operators.DocPool.removeIds(spark,
        spark.read.parquet(idsPath), poolRoot, idCol, retain)
      println(s"[docpool-remove] pool now holds " +
        s"${graft.operators.DocPool.read(spark, poolRoot).count()} rows")
      done(spark)

    case "docpool-read" :: poolRoot :: outDir :: rest =>
      val spark = session()
      val df = rest.headOption match {
        case Some(g) => graft.operators.DocPool.read(spark, poolRoot,
          g.toLong)
        case None => graft.operators.DocPool.read(spark, poolRoot)
      }
      df.write.mode("overwrite").parquet(outDir)
      println(s"[docpool-read] ${df.count()} rows -> $outDir " +
        s"(generations: ${graft.operators.DocPool
          .listGenerations(spark, poolRoot).mkString(",")})")
      done(spark)

    // the committed PQ snapshots still inside the retention window
    case "pq-generations" :: idxPath :: Nil =>
      val spark = session()
      val gens = graft.sim.SimSearch.pqGenerations(spark, idxPath)
      println(s"[pq-generations] ${gens.mkString(",")}")
      done(spark)

    // serve top-k from a persisted IVF-PQ index (codes only — raw
    // vectors are never read)
    case "pq-query" :: idxPath :: queries :: outDir :: rest =>
      // positional numbers end where --refine (and its operands) begin
      val nums = {
        val r = rest.indexOf("--refine")
        (if (r >= 0) rest.take(r) else rest).filter(!_.startsWith("--"))
      }
      val k = nums.headOption.map(_.toInt).getOrElse(10)
      val m = nums.drop(1).headOption.map(_.toInt).getOrElse(4)
      val nprobe = nums.drop(2).headOption.map(_.toInt).getOrElse(2)
      val dim = nums.drop(3).headOption.map(_.toInt).getOrElse(64)
      val spark = session()
      val (cb, codes, centroids) =
        graft.sim.SimSearch.readPqIndex(spark, idxPath)
      val q = spark.read.parquet(queries)
      // a residual-encoded index carries a marker directory; serving
      // MUST use the residual ADC or every distance is computed in the
      // wrong frame — and an OPQ-rotated index (perm dir present) must
      // re-frame queries through the same permutation
      val residual = new java.io.File(s"$idxPath/residual").exists()
      val permOpt = graft.sim.SimSearch.readPqIndexPerm(spark, idxPath)
      val rotOpt = graft.sim.SimSearch.readPqIndexRot(spark, idxPath)
      // --refine <rawEmbeddings> [candidates]: exact re-rank of the
      // ADC top-candidates against the raw vectors (IVFADC-R)
      val refineArgs = rest.dropWhile(_ != "--refine").drop(1)
      // a bare --refine must not silently degrade to unrefined ADC —
      // the user asked for exact re-rank and would get lossy neighbors
      require(!rest.contains("--refine") || refineArgs.nonEmpty,
        "--refine requires the raw embeddings path: " +
          "--refine <rawEmb> [candidates]")
      val hits = refineArgs.headOption match {
        case Some(rawPath) =>
          val c = refineArgs.drop(1).headOption.map(_.toInt)
            .getOrElse(4 * k)
          (rotOpt, permOpt) match {
            case (Some(rot), _) =>
              graft.sim.SimSearch.ivfPqTopKRefinedResidualRotatedDense(
                codes, cb, centroids, rot, q,
                spark.read.parquet(rawPath), "vec_id", "embedding",
                "vec_id", m, k, c, nprobe, dim)
            case (None, Some(perm)) =>
              graft.sim.SimSearch.ivfPqTopKRefinedResidualRotated(codes,
                cb, centroids, perm, q, spark.read.parquet(rawPath),
                "vec_id", "embedding", "vec_id", m, k, c, nprobe, dim)
            case (None, None) if residual =>
              graft.sim.SimSearch.ivfPqTopKRefinedResidual(codes, cb,
                centroids, q, spark.read.parquet(rawPath), "vec_id",
                "embedding", "vec_id", m, k, c, nprobe, dim)
            case _ =>
              graft.sim.SimSearch.ivfPqTopKRefined(codes, cb, centroids,
                q, spark.read.parquet(rawPath), "vec_id", "embedding",
                "vec_id", m, k, c, nprobe, dim)
          }
        case None =>
          (rotOpt, permOpt) match {
            case (Some(rot), _) =>
              graft.sim.SimSearch.ivfPqTopKResidualRotatedDense(codes,
                cb, centroids, rot, q, "vec_id", "embedding", "vec_id",
                m, k, nprobe, dim)
            case (None, Some(perm)) =>
              graft.sim.SimSearch.ivfPqTopKResidualRotated(codes, cb,
                centroids, perm, q, "vec_id", "embedding", "vec_id",
                m, k, nprobe, dim)
            case (None, None) if residual =>
              graft.sim.SimSearch.ivfPqTopKResidual(codes, cb,
                centroids, q, "vec_id", "embedding", "vec_id", m, k,
                nprobe, dim)
            case _ =>
              graft.sim.SimSearch.ivfPqTopK(codes, cb, centroids,
                q, "vec_id", "embedding", "vec_id", m, k, nprobe, dim)
          }
      }
      hits.write.mode("overwrite").parquet(outDir)
      val n = spark.read.parquet(outDir).count()
      println(s"[pq-query] ${q.count()} queries x top-$k " +
        s"(nprobe=$nprobe, refine=${refineArgs.nonEmpty}, " +
        s"residual=$residual, opq=${permOpt.nonEmpty}) -> $n hits " +
        s"-> $outDir")
      done(spark)

    case "ann-eval" :: corpus :: rest =>
      import org.apache.spark.sql.functions.col
      val nums = rest.filter(!_.startsWith("--"))
      val k = nums.headOption.map(_.toInt).getOrElse(10)
      val planes = nums.drop(1).headOption.map(_.toInt).getOrElse(12)
      val probeBits = nums.drop(2).headOption.map(_.toInt).getOrElse(1)
      val dim = nums.drop(3).headOption.map(_.toInt).getOrElse(64)
      val sampleMod = nums.drop(4).headOption.map(_.toLong).getOrElse(50L)
      val spark = session()
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

    // PQ acceptance report: recall@k of raw-code ADC, residual ADC,
    // and residual+re-rank against the brute-force baseline — the
    // numbers to read before trusting an index build
    case "pq-eval" :: corpus :: rest =>
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
      val spark = session()
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
      val cbRes = S.pqFitResidual(emb, cen, "vec_id", "embedding",
        "cell", m, kcb, 2, dim).localCheckpoint()
      val codesRes = S.pqEncodeResidual(emb, cen, cbRes, "vec_id",
        "embedding", "cell", m, dim).join(cells, Seq("vec_id"))
      println(s"[pq-eval] residual ADC      recall@$k: " + summary(
        S.ivfPqTopKResidual(codesRes, cbRes, cen, queries, "vec_id",
          "embedding", "vec_id", m, k + 1, nprobe, dim)))
      println(s"[pq-eval] residual+re-rank  recall@$k: " + summary(
        S.ivfPqTopKRefinedResidual(codesRes, cbRes, cen, queries, emb,
          "vec_id", "embedding", "vec_id", m, k + 1, 4 * k, nprobe,
          dim)))
      done(spark)

    case "semdedup" :: corpus :: outDir :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val k = nums.headOption.map(_.toInt).getOrElse(256)
      val threshold = nums.drop(1).headOption.map(_.toDouble).getOrElse(0.95)
      val dim = nums.drop(2).headOption.map(_.toInt).getOrElse(64)
      val cellCap = nums.drop(3).headOption.map(_.toLong)
        .getOrElse(1L << 20)
      val spark = session()
      val emb = spark.read.parquet(corpus) // (vec_id, embedding) columns
      val kept = graft.sim.SimSearch.semDedup(emb, "vec_id", "embedding",
        k = k, iters = 2, threshold = threshold, dim = dim,
        cellCap = cellCap)
      kept.write.mode("overwrite").parquet(outDir)
      println(s"[semdedup] ${emb.count()} vectors -> ${kept.count()} " +
        s"kept (k=$k threshold=$threshold cellCap=$cellCap) -> $outDir")
      done(spark)

    // streaming near-dedup of JSONL drops against a growing signed
    // index: new files under <inDir> process as micro-batches, each
    // deduped within itself and against everything already accepted
    // incremental funnel over JSONL event drops: drains current files
    // (AvailableNow), folds them into the per-user stage state, prints
    // the report off the state table
    case "funnel-stream" :: inDir :: statePath :: ckpt :: stagesCsv :: rest =>
      val maxGap = rest.headOption.map(_.toLong)
      val stages = stagesCsv.split(",").toSeq
      val spark = session()
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
      done(spark)

    // read-side twin of funnel-stream: conversion counts + latency
    // percentiles off the persisted state, no event rescan
    case "funnel-report" :: statePath :: stagesCsv :: rest =>
      val stages = stagesCsv.split(",").toSeq
      val k = rest.headOption.map(_.toInt).getOrElse(256)
      val spark = session()
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
      done(spark)

    // streaming sessionization twin: drain events into the bucketed
    // per-user session state, then print the largest sessions
    case "sessions-stream" :: inDir :: statePath :: ckpt :: rest =>
      val gap = rest.headOption.map(_.toInt).getOrElse(30)
      val spark = session()
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
      done(spark)

    // read-side twin: all sessions off the persisted state
    case "sessions-report" :: statePath :: outDir :: Nil =>
      val spark = session()
      graft.streaming.StreamingSessions.report(spark, statePath)
        .write.mode("overwrite").parquet(outDir)
      println(s"[sessions-report] -> $outDir")
      done(spark)

    case "dedup-stream" :: inDir :: idxPath :: outDir :: ckpt :: rest =>
      val spark = session()
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .json(inDir)
      val q = graft.streaming.StreamingDedup.start(stream, idxPath,
        outDir, ckpt, "text", "doc_id")
      q.awaitTermination() // AvailableNow: drains current files, stops
      val n = spark.read.parquet(outDir).count()
      println(s"[dedup-stream] $inDir -> $n total survivors in $outDir " +
        s"(index: $idxPath)")
      done(spark)

    case "split" :: corpus :: outDir :: rest =>
      val seed = rest.find(!_.startsWith("--")).map(_.toLong).getOrElse(13L)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      val labeled = graft.operators.Relational.hashSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed)
      labeled.write.mode("overwrite").partitionBy("split").parquet(outDir)
      println(s"[split] ${docs.count()} docs -> 80/10/10 by split= " +
        s"(seed $seed) -> $outDir")
      done(spark)

    case "mix" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val nums = rest.filter(!_.startsWith("--"))
      val budget = nums.headOption.map(_.toLong).getOrElse(1000000L)
      val seed = nums.drop(1).headOption.map(_.toLong).getOrElse(17L)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      val cls = if (docs.columns.contains("lang")) col("lang")
        else lit("all")
      val base = docs.select(cls.as("lang"), col("doc_id"),
        size(tokenizerFor(rest)(col("text"))).as("n_tokens"))
      // --alpha A: temperature mixing — budget is the TOTAL token
      // budget split across classes ∝ T_c^alpha; without it, budget is
      // a flat per-class token quota
      val alphaOpt = rest.dropWhile(_ != "--alpha").drop(1).headOption
        .map(_.toDouble)
      // --unimax E: epoch-capped waterfill of the TOTAL budget
      val unimaxOpt = rest.dropWhile(_ != "--unimax").drop(1).headOption
        .map(_.toInt)
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
      done(spark)

    case "pack" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val budget = rest.find(!_.startsWith("--")).map(_.toLong)
        .getOrElse(4096L)
      val spark = session()
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
      done(spark)

    case "tfidf" :: corpus :: outDir :: rest =>
      val spark = session()
      val scored = graft.text.TextOps.tfidf(
        loadCorpus(spark, corpus, rest), "text", "doc_id")
      Export.jsonl(scored, outDir)
      println(s"[tfidf] ${scored.count()} (doc, term) scores -> $outDir")
      done(spark)

    case "sample" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions.{col, length}
      val n = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(1000)
      val seed = rest.filter(!_.startsWith("--"))
        .drop(1).headOption.map(_.toLong).getOrElse(42L)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      // quality-weighted (priority) sample: longer docs more likely
      val kept = graft.operators.Relational.prioritySample(
        docs, "doc_id", length(col("text")).cast("double"), n, seed)
      Export.jsonl(kept, outDir)
      println(s"[sample] $n docs (seed $seed, length-weighted) -> $outDir")
      done(spark)

    // Gopher-rules quality filter: keep docs passing all rules, or
    // dump the full per-doc report with --report
    case "gopher" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val minWords = rest.find(!_.startsWith("--"))
        .map(_.toInt).getOrElse(50)
      val spark = session()
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
      done(spark)

    // DSIR selection: weight the corpus toward a target set, keep docs
    // with positive importance (or dump weights with --report)
    case "dsir" :: corpus :: targetPath :: outDir :: rest =>
      val buckets = rest.find(!_.startsWith("--"))
        .map(_.toInt).getOrElse(4096)
      val spark = session()
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
      done(spark)

    // CCNet-style perplexity scores: bigram NLL of every doc under a
    // hashed LM fit on the target corpus (low avg_nll = target-like)
    case "ppl" :: corpus :: targetPath :: outDir :: rest =>
      val buckets = rest.find(!_.startsWith("--"))
        .map(_.toInt).getOrElse(4096)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      val target = loadCorpus(spark, targetPath, rest)
      val scored = graft.text.NgramLm.bigramNll(docs, target,
        "text", "doc_id", buckets, tokenizerFor(rest))
      Export.jsonl(scored, outDir)
      println(s"[ppl] ${docs.count()} docs scored " +
        s"(buckets=$buckets) -> $outDir")
      done(spark)

    // crawl front door: WARC responses -> HTML -> clean text corpus
    case "warc-ingest" :: glob :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val maxPayload = rest.filter(!_.startsWith("--")).headOption
        .map(_.toInt).getOrElse(8 * 1024 * 1024)
      val spark = session()
      val docs = graft.sources.Warc.readResponses(spark, glob, maxPayload)
        .select(xxhash64(col("file"), col("idx")).as("doc_id"),
          col("target_uri"), col("warc_date"),
          graft.text.TextOps.htmlToText(col("html")).as("text"))
      docs.write.mode("overwrite").parquet(outDir)
      println(s"[warc-ingest] ${spark.read.parquet(outDir).count()} " +
        s"pages -> $outDir")
      done(spark)

    // WET flavor: Common Crawl pre-extracted text -> parquet corpus
    case "wet-ingest" :: glob :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val maxPayload = rest.filter(!_.startsWith("--")).headOption
        .map(_.toInt).getOrElse(8 * 1024 * 1024)
      val spark = session()
      graft.sources.Warc.readConversions(spark, glob, maxPayload)
        .select(xxhash64(col("file"), col("idx")).as("doc_id"),
          col("target_uri"), col("warc_date"), col("text"))
        .write.mode("overwrite").parquet(outDir)
      println(s"[wet-ingest] ${spark.read.parquet(outDir).count()} " +
        s"pages -> $outDir")
      done(spark)

    // decode a (doc_id, media binary) parquet of WAV/AIFF/AU audio
    // with the JDK's javax.sound.sampled; emits PCM metadata + RMS
    case "decode-audio" :: corpus :: outDir :: rest =>
      val spark = session()
      val dec = graft.multimodal.Multimodal.decodeAudio(
        spark.read.parquet(corpus))
      dec.write.mode("overwrite").parquet(outDir)
      val all = spark.read.parquet(outDir)
      val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
      println(s"[decode-audio] ${all.count()} items, $ok decoded -> $outDir")
      done(spark)

    // MP3 frame-header metadata over a (doc_id, media binary) parquet:
    // duration/bitrate/sample-rate/CBR-VBR without a codec dependency
    case "mp3-meta" :: corpus :: outDir :: rest =>
      val spark = session()
      val dec = graft.multimodal.Multimodal.mp3Meta(
        spark.read.parquet(corpus))
      dec.write.mode("overwrite").parquet(outDir)
      val all = spark.read.parquet(outDir)
      val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
      println(s"[mp3-meta] ${all.count()} items, $ok parsed -> $outDir")
      done(spark)

    case "exif" :: corpus :: outDir :: rest =>
      val spark = session()
      val dec = graft.multimodal.Multimodal.exifMeta(
        spark.read.parquet(corpus))
      dec.write.mode("overwrite").parquet(outDir)
      val all = spark.read.parquet(outDir)
      val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
      println(s"[exif] ${all.count()} items, $ok with EXIF -> $outDir")
      done(spark)

    case "mp4-meta" :: corpus :: outDir :: rest =>
      val spark = session()
      val dec = graft.multimodal.Multimodal.mp4Meta(
        spark.read.parquet(corpus))
      dec.write.mode("overwrite").parquet(outDir)
      val all = spark.read.parquet(outDir)
      val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
      println(s"[mp4-meta] ${all.count()} items, $ok parsed -> $outDir")
      done(spark)

    // Matroska/WebM container metadata (EBML walk, no codec)
    case "mkv-meta" :: corpus :: outDir :: rest =>
      val spark = session()
      val dec = graft.multimodal.Multimodal.mkvMeta(
        spark.read.parquet(corpus))
      dec.write.mode("overwrite").parquet(outDir)
      val all = spark.read.parquet(outDir)
      val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
      println(s"[mkv-meta] ${all.count()} items, $ok parsed -> $outDir")
      done(spark)

    case "flac-meta" :: corpus :: outDir :: rest =>
      val spark = session()
      val dec = graft.multimodal.Multimodal.flacMeta(
        spark.read.parquet(corpus))
      dec.write.mode("overwrite").parquet(outDir)
      val all = spark.read.parquet(outDir)
      val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
      println(s"[flac-meta] ${all.count()} items, $ok parsed -> $outDir")
      done(spark)

    case "ogg-meta" :: corpus :: outDir :: rest =>
      val spark = session()
      val dec = graft.multimodal.Multimodal.oggMeta(
        spark.read.parquet(corpus))
      dec.write.mode("overwrite").parquet(outDir)
      val all = spark.read.parquet(outDir)
      val ok = all.filter(org.apache.spark.sql.functions.col("ok")).count()
      println(s"[ogg-meta] ${all.count()} items, $ok parsed -> $outDir")
      done(spark)

    // decode a (doc_id, media binary) parquet with the JDK ImageIO
    // codecs (JPEG/PNG/GIF/BMP); emits metadata + channel means
    case "decode-image" :: corpus :: outDir :: rest =>
      val spark = session()
      val df = spark.read.parquet(corpus)
      val dec = graft.multimodal.Multimodal.decodeImage(df)
      dec.write.mode("overwrite").parquet(outDir)
      val ok = spark.read.parquet(outDir)
        .filter(org.apache.spark.sql.functions.col("ok")).count()
      val total = spark.read.parquet(outDir).count()
      println(s"[decode-image] $total items, $ok decoded -> $outDir")
      done(spark)

    // BM25 retrieval: space-separated query terms against the corpus
    case "bm25" :: corpus :: outDir :: query :: rest =>
      import org.apache.spark.sql.functions.col
      val k = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(10)
      val spark = session()
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
      done(spark)

    // exact phrase retrieval via the positional inverted index
    case "phrase" :: corpus :: outDir :: phrase :: rest =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      val terms = phrase.trim.split("\\s+").toSeq
      val hits = graft.text.Bm25.phraseSearchDocs(
        docs, "text", "doc_id", terms)
        .orderBy(col("n_matches").desc, col("doc_id"))
      Export.jsonl(hits, outDir)
      println(s"[phrase] '$phrase' -> ${hits.count()} docs -> $outDir")
      done(spark)

    // learn a BPE merge table from the corpus (prints + writes parquet).
    // Default: the driver fast path (one corpus scan, all rounds in
    // memory — the realistic shape for 16+ merges); --distributed runs
    // one Spark job per round (for vocabularies beyond driver memory)
    case "bpe-learn" :: corpus :: outDir :: rest =>
      val rounds = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(16)
      val spark = session()
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
      done(spark)

    // train the NB log-odds quality classifier from a weak label
    // column; writes the distributed (token, weight_micro) table
    case "train" :: corpus :: labelCol :: labelValue :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val minCount = rest.filter(!_.startsWith("--")).headOption
        .map(_.toInt).getOrElse(1)
      val spark = session()
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
      done(spark)

    // persisted BM25 inverted index: build (bucket-partitioned
    // postings + stats delta + frozen meta)
    case "bm25-index" :: corpus :: outDir :: rest =>
      val buckets = rest.filter(!_.startsWith("--")).headOption
        .map(_.toInt).getOrElse(64)
      val spark = session()
      val df = loadCorpus(spark, corpus, rest)
      graft.text.Bm25.writeBm25Index(df, "text", "doc_id", outDir,
        buckets)
      val n = spark.read.parquet(s"$outDir/stats")
        .agg(org.apache.spark.sql.functions.sum("n_docs")).head().get(0)
      println(s"[bm25-index] $n docs indexed into $buckets buckets " +
        s"-> $outDir")
      done(spark)

    // append NEW documents to a persisted BM25 index
    case "bm25-append" :: corpus :: indexDir :: rest =>
      val spark = session()
      val df = loadCorpus(spark, corpus, rest)
      graft.text.Bm25.appendToBm25Index(df, "text", "doc_id", indexDir)
      val n = spark.read.parquet(s"$indexDir/stats")
        .agg(org.apache.spark.sql.functions.sum("n_docs")).head().get(0)
      println(s"[bm25-append] index now covers $n docs")
      done(spark)

    // serve top-k from a persisted BM25 index (bucket-pruned read)
    case "bm25-query" :: indexDir :: terms :: rest =>
      import org.apache.spark.sql.functions.col
      val k = rest.filter(!_.startsWith("--")).headOption
        .map(_.toInt).getOrElse(10)
      val gen = rest.find(_.startsWith("--gen="))
        .map(_.stripPrefix("--gen=").toLong)
      val spark = session()
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
      done(spark)

    // list the BM25 index snapshots still inside the retention window
    case "bm25-generations" :: indexDir :: Nil =>
      val spark = session()
      val gens = graft.text.Bm25.bm25Generations(spark, indexDir)
      println(s"[bm25-generations] ${gens.mkString(",")}")
      done(spark)

    // delete documents from a persisted BM25 index (tombstones +
    // one negative stats delta; nothing rewritten)
    case "bm25-delete" :: idsPath :: indexDir :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val retain = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      graft.text.Bm25.deleteFromBm25Index(
        spark.read.parquet(idsPath), indexDir, idCol, retain)
      val n = graft.text.Bm25.indexStats(spark, indexDir).head().get(0)
      println(s"[bm25-delete] index now covers $n live docs")
      done(spark)

    // compact a persisted BM25 index (rewrite minus tombstones)
    case "bm25-compact" :: indexDir :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val retain = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
      val spark = session()
      graft.text.Bm25.compactBm25Index(spark, indexDir, idCol, retain)
      val n = graft.text.Bm25.indexStats(spark, indexDir).head().get(0)
      println(s"[bm25-compact] compacted to $n docs")
      done(spark)

    // A-ES weighted exact-n sample by an integer weight column
    case "wsample" :: path :: idCol :: wCol :: n :: rest =>
      import org.apache.spark.sql.functions.col
      val seed = rest.headOption.map(_.toLong).getOrElse(42L)
      val spark = session()
      val rows = graft.operators.Relational.weightedSample(
        spark.read.parquet(path), idCol, col(wCol), n.toInt, seed)
        .collect()
      rows.take(10).foreach { r =>
        println(s"[wsample] id=${r.get(0)} w=${r.getLong(1)} " +
          s"key_micro=${r.getLong(2)}")
      }
      println(s"[wsample] selected ${rows.length} of requested $n " +
        s"(seed=$seed)")
      done(spark)

    // one-row ECE/MCE/Brier calibration summary for a trained model
    case "calibration" :: corpus :: labelCol :: labelValue ::
        weightsDir :: rest =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val df = loadCorpus(spark, corpus, rest)
      val w = spark.read.parquet(weightsDir)
      val r = graft.text.Classifier.calibrationSummary(df, "text",
        "doc_id", col(labelCol) === labelValue, w).head()
      println(s"[calibration] n=${r.getLong(0)} " +
        s"ece_micro=${r.getLong(1)} mce_micro=${r.getLong(2)} " +
        s"brier_micro=${r.getLong(3)}")
      done(spark)

    // sketch-tier per-group quantiles of a numeric column
    case "quantiles" :: path :: keyCol :: valCol :: rest =>
      import org.apache.spark.sql.functions._
      val k = rest.headOption.map(_.toInt).getOrElse(256)
      val spark = session()
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
      done(spark)

    // sketch-tier robust outlier screen: one bounded-state pass
    case "outliers" :: path :: keyCol :: valCol :: rest =>
      import org.apache.spark.sql.functions._
      val k = rest.headOption.map(_.toInt).getOrElse(256)
      val c = rest.drop(1).headOption.map(_.toDouble).getOrElse(3.0)
      val spark = session()
      val df = spark.read.parquet(path)
      graft.operators.Relational.robustOutliersApprox(df, Seq(keyCol),
        valCol, rowKeyHash(df, valCol), k, c)
        .orderBy(col(keyCol)).collect().foreach { r =>
          println(s"[outliers] ${r.get(0)}: n=${r.getLong(1)} " +
            s"m=${r.getInt(2)} median=${r.get(3)} mad=${r.get(4)} " +
            s"outliers_est=${r.get(5)}")
        }
      done(spark)

    // per-group embedding drift between two snapshot parquets
    case "emb-drift" :: oldPath :: newPath :: groupCol :: rest =>
      import org.apache.spark.sql.functions.col
      val dim = rest.headOption.map(_.toInt).getOrElse(64)
      val spark = session()
      graft.sim.SimSearch.groupEmbeddingDrift(
        spark.read.parquet(oldPath), spark.read.parquet(newPath),
        "vec_id", "embedding", groupCol, dim)
        .orderBy(col(groupCol)).collect().foreach { r =>
          println(s"[emb-drift] ${r.get(0)}: n_old=${r.getLong(1)} " +
            s"n_new=${r.getLong(2)} mean_cos=${r.get(3)}")
        }
      done(spark)

    // referential-integrity orphan screen over one FK edge
    case "fk-audit" :: childPath :: childKey :: parentPath ::
        parentKey :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Diagnose.fkOrphanAudit(Seq(
        graft.operators.Diagnose.FkEdge(s"$childKey->$parentKey",
          spark.read.parquet(childPath), col(childKey),
          spark.read.parquet(parentPath), col(parentKey)))).head()
      println(s"[fk-audit] ${r.getString(0)}: n_child=${r.getLong(1)} " +
        s"n_null_key=${r.getLong(2)} n_orphan=${r.getLong(3)} " +
        s"orphan_rate=${r.get(4)}")
      done(spark)

    // SCD2 version history from a keyed changelog
    case "scd2" :: path :: keyCol :: tsCol :: tieCol :: attrCol ::
        outDir :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val hist = graft.operators.Relational.scd2History(
        spark.read.parquet(path), keyCol, col(tsCol), col(tieCol),
        col(attrCol))
      hist.write.mode("overwrite").parquet(outDir)
      val n = spark.read.parquet(outDir)
      println(s"[scd2] ${n.count()} versions " +
        s"(${n.filter(col("is_current")).count()} current) -> $outDir")
      done(spark)

    // keyed snapshot diff: added/removed/changed/unchanged + per-col
    case "snapshot-diff" :: oldPath :: newPath :: keysCsv ::
        cmpCsv :: Nil =>
      val spark = session()
      graft.operators.Relational.snapshotDiff(
        spark.read.parquet(oldPath), spark.read.parquet(newPath),
        keysCsv.split(',').toSeq, cmpCsv.split(',').toSeq)
        .collect().foreach { r =>
          println(s"[snapshot-diff] ${r.getString(0)}=${r.getLong(1)}")
        }
      done(spark)

    // per-group rank-sum ROC-AUC of a score against a 0/1 label
    case "roc-auc" :: path :: groupCol :: scoreCol :: labelCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      graft.operators.Relational.rocAucByGroup(
        spark.read.parquet(path), groupCol, col(scoreCol),
        col(labelCol))
        .orderBy(col(groupCol)).collect().foreach { r =>
          println(s"[roc-auc] ${r.get(0)}: n=${r.getLong(1)} " +
            s"pos=${r.getLong(2)} neg=${r.getLong(3)} auc=${r.get(4)}")
        }
      done(spark)

    // Cohen's kappa between two categorical columns
    case "kappa" :: path :: colA :: colB :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.cohenKappa(
        spark.read.parquet(path), col(colA), col(colB)).head()
      println(s"[kappa] n=${r.getLong(0)} agree=${r.getLong(1)} " +
        s"po_micro=${r.getLong(2)} pe_micro=${r.getLong(3)} " +
        s"kappa=${r.get(4)}")
      done(spark)

    // OHLC bars over an exact-integer value column
    case "ohlc" :: path :: tsCol :: tieCol :: valCol :: outDir :: rest =>
      import org.apache.spark.sql.functions.col
      val bucketSec = rest.headOption.map(_.toLong).getOrElse(86400L)
      val spark = session()
      val bars = graft.operators.Relational.ohlcBars(
        spark.read.parquet(path), col(tsCol), col(tieCol),
        col(valCol), bucketSec)
      bars.write.mode("overwrite").parquet(outDir)
      println(s"[ohlc] ${spark.read.parquet(outDir).count()} bars " +
        s"(bucket ${bucketSec}s) -> $outDir")
      done(spark)

    // Mann-Kendall monotone-trend screen over daily counts
    case "trend" :: path :: groupCol :: rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.headOption.getOrElse("ts")
      val spark = session()
      graft.operators.TimeSeries.mannKendallTrend(
        graft.operators.TimeSeries.dailyCounts(
          spark.read.parquet(path), groupCol, col(tsCol)), groupCol)
        .orderBy(col(groupCol)).collect().foreach { r =>
          println(s"[trend] ${r.get(0)}: n_days=${r.getLong(1)} " +
            s"s=${r.getLong(2)} var18=${r.getLong(3)} " +
            s"z_micro=${r.get(4)}")
        }
      done(spark)

    // CUSUM changepoint screen over daily counts
    case "changepoint" :: path :: groupCol :: rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.headOption.getOrElse("ts")
      val spark = session()
      graft.operators.TimeSeries.cusumChangepoint(
        graft.operators.TimeSeries.dailyCounts(
          spark.read.parquet(path), groupCol, col(tsCol)), groupCol)
        .orderBy(col(groupCol)).collect().foreach { r =>
          println(s"[changepoint] ${r.get(0)}: " +
            s"n_days=${r.getLong(1)} mean_micro=${r.getLong(2)} " +
            s"cp_day=${r.getLong(3)} max_dev=${r.getLong(4)}")
        }
      done(spark)

    // lag-k autocorrelation of the daily series
    case "acf" :: path :: groupCol :: rest =>
      import org.apache.spark.sql.functions.col
      val nums = rest.filter(!_.startsWith("--"))
      val maxLag = nums.headOption.map(_.toInt).getOrElse(3)
      val tsCol = nums.drop(1).headOption.getOrElse("ts")
      val spark = session()
      graft.operators.TimeSeries.autocorrByGroup(
        graft.operators.TimeSeries.dailyCounts(
          spark.read.parquet(path), groupCol, col(tsCol)),
        groupCol, maxLag)
        .orderBy(col(groupCol), col("lag")).collect().foreach { r =>
          println(s"[acf] ${r.get(0)} lag=${r.getInt(1)}: " +
            s"n_pairs=${r.getLong(2)} acf=${r.get(3)}")
        }
      done(spark)

    // Kaplan-Meier lifetime survival curve
    case "survival" :: path :: userCol :: rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.headOption.getOrElse("ts")
      val spark = session()
      graft.operators.TimeSeries.kaplanMeier(
        spark.read.parquet(path), userCol, col(tsCol))
        .orderBy(col("t_day")).collect().foreach { r =>
          println(s"[survival] t=${r.getLong(0)}: " +
            s"at_risk=${r.getLong(1)} churned=${r.getLong(2)} " +
            s"censored=${r.getLong(3)} S=${r.getDouble(4)}")
        }
      done(spark)

    // incremental mergeable agg state: fold the batch, merge into the
    // persisted state if one exists, write the state back
    case "agg-state" :: path :: groupCol :: valCol :: distinctCol ::
        stateDir :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
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
      done(spark)

    // Welch's unequal-variance t-test between two variants
    case "welch" :: path :: valCol :: variantCol :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      val r = graft.operators.Relational.welchTTest(
        spark.read.parquet(path), col(variantCol).cast("boolean"),
        col(valCol)).head()
      println(s"[welch] n_a=${r.getLong(0)} n_b=${r.getLong(1)} " +
        s"mean_a_micro=${r.getLong(2)} mean_b_micro=${r.getLong(3)} " +
        s"t_micro=${r.get(4)} df_micro=${r.get(5)}")
      done(spark)

    // Theil-Sen robust slope of the daily count series
    case "theil" :: path :: groupCol :: rest =>
      import org.apache.spark.sql.functions.col
      val tsCol = rest.headOption.getOrElse("ts")
      val spark = session()
      graft.operators.TimeSeries.theilSenSlope(
        graft.operators.TimeSeries.dailyCounts(
          spark.read.parquet(path), groupCol, col(tsCol)), groupCol)
        .orderBy(col(groupCol)).collect().foreach { r =>
          println(s"[theil] ${r.get(0)}: n_pairs=${r.getLong(1)} " +
            s"slope_micro=${r.get(2)}")
        }
      done(spark)

    // Aho-Corasick blocklist screen: per-first-term document counts
    case "blocklist" :: path :: termsCsv :: rest =>
      import org.apache.spark.sql.functions._
      val terms = termsCsv.split(',').toSeq.filter(_.nonEmpty)
      val spark = session()
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
      done(spark)

    // order-free dataset content fingerprint per group
    case "fingerprint" :: path :: groupCol :: colsCsv :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      graft.operators.Relational.datasetFingerprint(
        spark.read.parquet(path), groupCol, colsCsv.split(',').toSeq)
        .orderBy(col(groupCol)).collect().foreach { r =>
          println(s"[fingerprint] ${r.get(0)}: n=${r.getLong(1)} " +
            s"fp=${r.getLong(2)}")
        }
      done(spark)

    // WebDataset tar shard export: reproducible shuffle order →
    // shard-NNNNN.tar files with {pos}-{id}.txt entries
    case "tar-export" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val nums = rest.filter(!_.startsWith("--"))
      val shards = nums.headOption.map(_.toInt).getOrElse(8)
      val seed = nums.drop(1).headOption.map(_.toLong).getOrElse(42L)
      val spark = session()
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
      done(spark)

    // ordered funnel over an events parquet: stages are the args
    case "funnel" :: path :: stagesCsv :: rest =>
      val maxGap = rest.headOption.map(_.toLong)
      val spark = session()
      graft.streaming.EventOps.funnel(spark.read.parquet(path),
        stagesCsv.split(",").toSeq, maxGapMinutes = maxGap)
        .orderBy("stage_idx")
        .collect().foreach { r =>
          println(s"[funnel] ${r.getInt(0)} ${r.getString(1)}: " +
            s"${r.getLong(2)} users (${r.getDouble(3)})")
        }
      done(spark)

    // cohort retention over an events parquet
    case "retention" :: path :: Nil =>
      import org.apache.spark.sql.functions.col
      val spark = session()
      graft.streaming.EventOps.retention(spark.read.parquet(path))
        .orderBy(col("cohort_day"), col("day_offset"))
        .collect().take(40).foreach { r =>
          println(s"[retention] cohort=${r.getLong(0)} " +
            s"offset=${r.getLong(1)} active=${r.getLong(2)} " +
            s"(${r.getDouble(3)})")
        }
      done(spark)

    // snapshot diff: per-id status counts between two corpus versions
    case "diff" :: oldPath :: newPath :: rest =>
      import org.apache.spark.sql.functions.{col, count, lit}
      val spark = session()
      val statuses = graft.operators.Relational.corpusDiff(
        loadCorpus(spark, oldPath, rest),
        loadCorpus(spark, newPath, rest), "doc_id", "text")
      statuses.groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status")).collect()
        .foreach(r => println(s"[diff] ${r.getString(0)}: ${r.getLong(1)}"))
      rest.dropWhile(_ != "--out").drop(1).headOption.foreach { out =>
        Export.jsonl(statuses.filter(col("status") =!= "unchanged"), out)
        println(s"[diff] non-unchanged rows -> $out")
      }
      done(spark)

    // per-column dataset profile (nulls, distinct est, min/max, pXX)
    case "profile" :: path :: Nil =>
      val spark = session()
      graft.operators.Diagnose.profile(spark.read.parquet(path))
        .orderBy("column").collect()
        .foreach(r => println(s"[profile] ${r.mkString(" ")}"))
      done(spark)

    // dataset manifest: per-file row counts + null counts + schema hash
    case "manifest" :: path :: rest =>
      val spark = session()
      val m = graft.operators.Diagnose.manifest(spark, path)
      rest.headOption match {
        case Some(out) =>
          m.coalesce(1).write.mode("overwrite").parquet(out)
          println(s"[manifest] ${m.count()} files -> $out")
        case None =>
          m.orderBy("file").collect()
            .foreach(r => println(s"[manifest] ${r.mkString(" ")}"))
      }
      done(spark)

    // key-skew report: heavy hitters of any parquet column (the
    // pre-join salting/broadcast diagnostic); prints to stdout
    case "skew" :: path :: keyCol :: rest =>
      val topK = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(20)
      val spark = session()
      val rows = graft.operators.Diagnose.keySkew(
        spark.read.parquet(path).select(keyCol), keyCol, topK).collect()
      println(s"[skew] $path.$keyCol top-$topK of " +
        s"${rows.headOption.map(_.getAs[Long]("total_rows")).getOrElse(0L)} rows")
      rows.foreach { r =>
        println(f"  ${r.get(0)}%-24s ${r.getAs[Long]("n_rows")}%10d  " +
          f"${r.getAs[Double]("share") * 100}%6.2f%%")
      }
      done(spark)

    // link-graph PageRank over an edge table (src, dst) — the crawl
    // quality prior; nodes = src ∪ dst, production tier (plain sums +
    // dangling redistribution + lineage checkpoints)
    case "pagerank" :: edgesPath :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val nums = rest.filter(!_.startsWith("--"))
      val iters = nums.headOption.map(_.toInt).getOrElse(10)
      val damping = nums.drop(1).headOption.map(_.toDouble).getOrElse(0.85)
      val spark = session()
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
      done(spark)

    // HyperBall-style harmonic centrality over an edge table — the
    // Common-Crawl host-ranking statistic; KMV ball sketches, k
    // registers per node
    case "harmonic" :: edgesPath :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val nums = rest.filter(!_.startsWith("--"))
      val rounds = nums.headOption.map(_.toInt).getOrElse(4)
      val k = nums.drop(1).headOption.map(_.toInt).getOrElse(256)
      val spark = session()
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
      done(spark)

    // encoding cleanup: mojibake repair then NFC canonicalization —
    // the order matters (repair first, then compose)
    case "fix-encoding" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val spark = session()
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
      done(spark)

    // extended PII pass: urls/emails + card (Luhn-reported) + phone
    case "pii" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val spark = session()
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
      done(spark)

    // robots politeness filter: keep URLs the agent may fetch
    case "robots-filter" :: urlsPath :: robotsPath :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val agent = rest.find(!_.startsWith("--")).getOrElse("graftbot")
      val spark = session()
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
      done(spark)

    // one-stop corpus overview: the dataset-card numbers (size, token
    // budget, hygiene rates) in two aggregation passes
    case "report" :: corpus :: rest =>
      import org.apache.spark.sql.functions._
      val spark = session()
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
      done(spark)

    // triangle counts / k-core over an edge table — the clustering
    // and link-ring screens beside pagerank/harmonic
    case "triangles" :: edgesPath :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val spark = session()
      val edges = spark.read.parquet(edgesPath).select("src", "dst")
      val nodes = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      val t = graft.operators.LinkGraph.triangleCounts(nodes, edges)
      t.write.mode("overwrite").parquet(outDir)
      val total = spark.read.parquet(outDir)
        .agg(sum("n_triangles")).first().getLong(0) / 3
      println(s"[triangles] ${nodes.count()} nodes, " +
        s"$total triangles -> $outDir")
      done(spark)

    case "kcore" :: edgesPath :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val nums = rest.filter(!_.startsWith("--"))
      val k = nums.headOption.map(_.toInt).getOrElse(4)
      val rounds = nums.drop(1).headOption.map(_.toInt).getOrElse(6)
      val spark = session()
      val edges = spark.read.parquet(edgesPath).select("src", "dst")
      val nodes = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      val core = graft.operators.LinkGraph.kCore(nodes, edges, k, rounds)
      core.write.mode("overwrite").parquet(outDir)
      val in = spark.read.parquet(outDir).filter(col("in_core")).count()
      println(s"[kcore] k=$k, $rounds rounds: $in of " +
        s"${nodes.count()} nodes in core -> $outDir")
      done(spark)

    // pairwise source-overlap matrix (minhash of each group's shingle
    // union) — which crawls/sources mirror each other
    case "overlap" :: corpus :: outDir :: rest =>
      val groupCol = rest.find(!_.startsWith("--")).getOrElse("source")
      val spark = session()
      val sim = graft.text.Dedup.groupSimilarity(
        loadCorpus(spark, corpus, rest), "text", groupCol)
      Export.jsonl(sim, outDir)
      println(s"[overlap] ${sim.count()} $groupCol pairs -> $outDir")
      done(spark)

    // fill-in-the-middle splits: deterministic seeded (prefix, middle,
    // suffix) per doc
    case "fim" :: corpus :: outDir :: rest =>
      val seed = rest.find(!_.startsWith("--"))
        .map(_.toLong).getOrElse(42L)
      val spark = session()
      val out = graft.text.TextOps.fimSplit(
        loadCorpus(spark, corpus, rest), "text", "doc_id", seed,
        tokenizerFor(rest))
      Export.jsonl(out, outDir)
      println(s"[fim] ${out.count()} splits (seed $seed) -> $outDir")
      done(spark)

    case "chunk" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val size = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(512)
      val overlap = rest.filter(!_.startsWith("--"))
        .drop(1).headOption.map(_.toInt).getOrElse(64)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      val chunks = docs
        .select(col("doc_id"), explode(graft.text.TextOps.chunkTokens(
          graft.text.TextOps.tokens(col("text")), size, overlap)).as("c"))
        .select(col("doc_id"), col("c.chunk_id"), col("c.chunk_text"))
      Export.jsonl(chunks, outDir)
      println(s"[chunk] size=$size overlap=$overlap " +
        s"-> ${chunks.count()} chunks -> $outDir")
      done(spark)

    case "shuffle" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val nums = rest.filter(!_.startsWith("--"))
      val shards = nums.headOption.map(_.toInt).getOrElse(64)
      val seed = nums.drop(1).headOption.map(_.toLong).getOrElse(41L)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      val layout = graft.operators.Relational.globalShuffle(
        docs, "doc_id", seed, shards)
      // storage layout output (like `split`): shard= partitions,
      // shard_pos gives the in-shard read order
      docs.join(layout, Seq("doc_id"))
        .write.mode("overwrite").partitionBy("shard").parquet(outDir)
      println(s"[shuffle] ${docs.count()} docs -> $shards shards " +
        s"(seed $seed) -> $outDir")
      done(spark)

    case "upsert" :: base :: updates :: keyCol :: versionCol :: out :: Nil =>
      val spark = session()
      val b = spark.read.parquet(base)
      val u = spark.read.parquet(updates)
        .select(b.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
      val merged = Ingest.upsert(b, u, Seq(keyCol), versionCol)
      merged.write.mode("overwrite").parquet(out)
      println(s"[upsert] ${b.count()} base + ${u.count()} updates -> " +
        s"${merged.count()} rows -> $out")
      done(spark)

    case "classify" :: corpus :: modelPath :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val spark = session()
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
      done(spark)

    case "divergence" :: corpus :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val groupCol = nums.headOption.getOrElse("source")
      val buckets = nums.drop(1).headOption.map(_.toInt).getOrElse(64)
      val spark = session()
      val docs = loadCorpus(spark, corpus, rest)
      graft.text.Dsir.groupDivergence(docs, "text", groupCol, buckets)
        .orderBy(org.apache.spark.sql.functions.col("kl").desc)
        .show(100, truncate = false)
      done(spark)

    case "buckets" :: corpus :: targetPath :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val spark = session()
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
      done(spark)

    case "despan" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val nums = rest.filter(!_.startsWith("--"))
      val k = nums.headOption.map(_.toInt).getOrElse(8)
      val minLen = nums.drop(1).headOption.map(_.toInt).getOrElse(16)
      val spark = session()
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
      done(spark)

    case "semdecon" :: corpus :: evalPath :: outDir :: rest =>
      val th = rest.find(!_.startsWith("--")).map(_.toDouble).getOrElse(0.95)
      val spark = session()
      val c = spark.read.parquet(corpus)
      val e = spark.read.parquet(evalPath)
      val kept = graft.sim.SimSearch.semanticDecontaminate(
        c, e, "vec_id", "embedding", th)
      kept.write.mode("overwrite").parquet(outDir)
      println(s"[semdecon] ${c.count()} corpus vs ${e.count()} eval " +
        s"-> ${kept.count()} kept (cos >= $th dropped) -> $outDir")
      done(spark)

    case "dhash" :: corpus :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val maxBits = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(3)
      val spark = session()
      val media = spark.read.parquet(corpus)
      val hashed = graft.multimodal.Multimodal.dHash(media)
      val pairs = graft.text.Dedup.hammingNearDupPairs(
        hashed.filter(col("ok")), "id", "dhash", maxBits = maxBits)
      pairs.write.mode("overwrite").parquet(outDir)
      println(s"[dhash] ${media.count()} images, " +
        s"${pairs.count()} near-dup pairs (<=$maxBits bits) -> $outDir")
      done(spark)

    // HLL distinct 3-gram cardinality per group (fixed 64-byte state)
    case "hll" :: corpus :: rest =>
      import org.apache.spark.sql.functions._
      val groupCol = rest.find(!_.startsWith("--")).getOrElse("source")
      val spark = session()
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
      done(spark)

    // top PMI collocations over a corpus
    case "pmi" :: corpus :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val minCount = nums.headOption.map(_.toLong).getOrElse(5L)
      val topK = nums.drop(1).headOption.map(_.toInt).getOrElse(30)
      val spark = session()
      graft.text.TextOps.pmiCollocations(
        loadCorpus(spark, corpus, rest), "text",
        minCount, topK)
        .collect().foreach { r =>
          println(s"[pmi] '${r.getString(0)} ${r.getString(1)}' " +
            s"pmi=${r.getLong(5) / 1e6} n=${r.getLong(2)}")
        }
      done(spark)

    // HITS hub/authority path counts over an edge parquet
    case "hits" :: edgesPath :: outDir :: rest =>
      import org.apache.spark.sql.functions._
      val rounds = rest.find(!_.startsWith("--")).map(_.toInt)
        .getOrElse(2)
      val spark = session()
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
      done(spark)

    // Hill tail index of the token-frequency distribution
    case "hill" :: corpus :: rest =>
      import org.apache.spark.sql.functions._
      val k = rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(100)
      val spark = session()
      val t = graft.text.TextOps
      val uni = loadCorpus(spark, corpus, rest)
        .select(explode(t.tokensSimple(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val r = graft.operators.Relational
        .hillTailIndex(uni, col("c"), col("t"), k).first()
      println(s"[hill] token-frequency tail: alpha=${r.get(3)} " +
        s"(k=${r.getLong(0)}, x_k+1=${r.getLong(1)})")
      done(spark)

    // Markov transition matrix over an events parquet
    case "transitions" :: path :: rest =>
      import org.apache.spark.sql.functions._
      val spark = session()
      graft.streaming.EventOps.transitionMatrix(
        spark.read.parquet(path))
        .orderBy(col("kind"), col("p_next").desc).collect().foreach {
          r => println(s"[transitions] ${r.getString(0)} -> " +
            s"${r.getString(1)}: p=${r.getDouble(4)} " +
            s"(${r.getLong(2)}/${r.getLong(3)})")
        }
      done(spark)

    // per-user burstiness screen; prints the most bursty users
    case "burstiness" :: path :: rest =>
      import org.apache.spark.sql.functions._
      val topK = rest.find(!_.startsWith("--")).map(_.toInt)
        .getOrElse(10)
      val spark = session()
      graft.streaming.EventOps.burstiness(spark.read.parquet(path))
        .filter(col("burstiness").isNotNull)
        .orderBy(col("burstiness").desc, col("user")).limit(topK)
        .collect().foreach { r =>
          println(s"[burstiness] user=${r.get(0)} " +
            s"B=${r.getDouble(4)} n_gaps=${r.getLong(1)}")
        }
      done(spark)

    // PSI drift of a value column between two snapshots
    case "psi" :: oldPath :: newPath :: valCol :: rest =>
      import org.apache.spark.sql.functions._
      val nums = rest.filter(!_.startsWith("--"))
      val keyCol = nums.headOption.getOrElse("source")
      val binWidth = nums.drop(1).headOption.map(_.toLong)
        .getOrElse(100L)
      val spark = session()
      graft.operators.Relational.psiDrift(
        spark.read.parquet(oldPath), spark.read.parquet(newPath),
        Seq(keyCol), col(valCol), binWidth)
        .orderBy(col(keyCol)).collect().foreach { r =>
          val flag = if (r.getDouble(5) > 0.25) " DRIFT"
            else if (r.getDouble(5) > 0.1) " watch" else ""
          println(s"[psi] ${r.get(0)}: psi=${r.getDouble(5)}$flag " +
            s"(n=${r.getLong(1)}->${r.getLong(2)})")
        }
      done(spark)

    // content-defined chunk redundancy report
    case "cdc" :: corpus :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val mask = nums.headOption.map(_.toInt).getOrElse(16)
      val topK = nums.drop(1).headOption.map(_.toInt).getOrElse(20)
      val spark = session()
      graft.text.Dedup.cdcDedupReport(
        loadCorpus(spark, corpus, rest),
        "text", "doc_id", window = 8, mask = mask, topK = topK)
        .collect().foreach { r =>
          println(s"[cdc] ${r.getString(0).take(12)}… " +
            s"x${r.getLong(1)} in ${r.getLong(2)} docs " +
            s"(${r.getInt(3)} chars)")
        }
      done(spark)

    // RFM engagement table over an events parquet
    case "rfm" :: path :: rest =>
      import org.apache.spark.sql.functions._
      val topK = rest.find(!_.startsWith("--")).map(_.toInt)
        .getOrElse(10)
      val spark = session()
      graft.streaming.EventOps.rfm(spark.read.parquet(path))
        .orderBy(col("monetary_micro").desc, col("user")).limit(topK)
        .collect().foreach { r =>
          println(s"[rfm] user=${r.get(0)} r=${r.getLong(1)}d " +
            s"f=${r.getLong(2)} m=${r.getLong(3) / 1e6} " +
            s"tenure=${r.getLong(4)}d")
        }
      done(spark)

    // two-proportion A/B test: variant = user parity by default
    case "ab" :: path :: convKind :: Nil =>
      import org.apache.spark.sql.functions._
      val spark = session()
      val r = graft.streaming.EventOps.abTest(
        spark.read.parquet(path), col("user_id") % 2 === 1,
        col("event_type") === convKind).first()
      val z = if (r.isNullAt(6)) "n/a" else (r.getLong(6) / 1e6).toString
      println(s"[ab] a: ${r.getLong(1)}/${r.getLong(0)} " +
        s"(${r.getDouble(4)}) b: ${r.getLong(3)}/${r.getLong(2)} " +
        s"(${r.getDouble(5)}) z=$z")
      done(spark)

    // lead-lag daily cross-correlation sweep between two event types
    case "leadlag" :: path :: kindA :: kindB :: rest =>
      import org.apache.spark.sql.functions._
      val maxLag = rest.headOption.map(_.toInt).getOrElse(3)
      val spark = session()
      graft.streaming.EventOps.leadLagCorrelation(
        spark.read.parquet(path), kindA, kindB, maxLag)
        .orderBy(col("lag")).collect().foreach { r =>
          val c = if (r.isNullAt(2)) "n/a" else r.getDouble(2).toString
          println(s"[leadlag] lag=${r.getInt(0)} corr=$c " +
            s"(n=${r.getLong(1)})")
        }
      done(spark)

    // per-group z-score outliers of a value column
    case "zscore" :: path :: keyCol :: valCol :: rest =>
      import org.apache.spark.sql.functions._
      val topK = rest.headOption.map(_.toInt).getOrElse(10)
      val spark = session()
      val df = spark.read.parquet(path)
      graft.operators.Relational.groupZScores(df, Seq(keyCol),
        col(valCol), df.columns.head, topK)
        .collect().foreach { r =>
          println(s"[zscore] ${r.get(0)} (${r.get(1)}): " +
            s"v=${r.getLong(2)} z=${r.getDouble(4)}")
        }
      done(spark)

    // commonest k-step journeys over an events parquet
    case "journeys" :: path :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val steps = nums.headOption.map(_.toInt).getOrElse(3)
      val topK = nums.drop(1).headOption.map(_.toInt).getOrElse(10)
      val spark = session()
      graft.streaming.EventOps.topJourneys(
        spark.read.parquet(path), steps, topK)
        .collect().foreach { r =>
          val path2 = (0 until steps).map(r.getString).mkString(" > ")
          println(s"[journeys] $path2 x${r.getLong(steps)}")
        }
      done(spark)

    // association rules over per-user event-type baskets
    case "assoc" :: path :: Nil =>
      import org.apache.spark.sql.functions._
      val spark = session()
      graft.streaming.EventOps.associationRules(
        spark.read.parquet(path))
        .orderBy(col("lift").desc, col("kind_a"), col("kind_b"))
        .collect().foreach { r =>
          println(s"[assoc] ${r.getString(0)} + ${r.getString(1)}: " +
            s"lift=${r.getDouble(9)} support=${r.getDouble(6)}")
        }
      done(spark)

    // CMS join-size estimate between two event types on user_id
    case "joincard" :: path :: kindA :: kindB :: Nil =>
      import org.apache.spark.sql.functions._
      val spark = session()
      val ev = spark.read.parquet(path)
      val r = graft.operators.Relational.cmsJoinCardinality(
        ev.filter(col("event_type") === kindA),
        ev.filter(col("event_type") === kindB),
        col("user_id"), col("user_id")).first()
      println(s"[joincard] $kindA(${r.getLong(0)}) x " +
        s"$kindB(${r.getLong(1)}) -> est ${r.getLong(2)} pairs")
      done(spark)

    // CUPED variance-reduced A/B readout
    case "cuped" :: path :: splitSec :: rest =>
      val convKind = rest.headOption.getOrElse("purchase")
      val spark = session()
      graft.streaming.EventOps.cuped(
        spark.read.parquet(path), splitSec.toLong, convKind)
        .collect().foreach { r =>
          println(s"[cuped] variant=${r.getLong(0)} n=${r.getLong(1)} " +
            s"theta=${r.getDouble(4)} mean_y=${r.getDouble(5)} " +
            s"mean_adj=${r.getDouble(6)}")
        }
      done(spark)

    // nDCG@k of a scored, graded parquet
    case "ndcg" :: path :: idCol :: scoreCol :: relCol :: rest =>
      import org.apache.spark.sql.functions._
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      val spark = session()
      val out = graft.operators.Relational.ndcgAtK(
        spark.read.parquet(path), col(idCol), col(scoreCol),
        col(relCol), k).collect()
      out.foreach { r =>
        println(s"[ndcg] pos=${r.getInt(0)} id=${r.get(1)} " +
          s"rel=${r.get(3)} term=${r.getLong(4)}")
      }
      out.headOption.foreach(r =>
        println(s"[ndcg] ndcg@$k = ${r.getLong(7) / 1e6}"))
      done(spark)

    // entity resolution over an (id, name) parquet
    case "er" :: path :: idCol :: nameCol :: rest =>
      import org.apache.spark.sql.functions._
      val maxEdit = rest.headOption.map(_.toInt).getOrElse(2)
      val spark = session()
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
      done(spark)

    // top principal direction of an embeddings parquet
    case "pca" :: path :: rest =>
      val nums = rest.filter(!_.startsWith("--"))
      val dim = nums.headOption.map(_.toInt).getOrElse(64)
      val iters = nums.drop(1).headOption.map(_.toInt).getOrElse(6)
      val spark = session()
      val out = graft.sim.SimSearch.pcaPowerTop(
        spark.read.parquet(path), "embedding", dim, iters)
        .collect().sortBy(_.getInt(0))
      val top = out.sortBy(r => -math.abs(r.getLong(1))).take(8)
        .map(r => s"${r.getInt(0)}:${r.getLong(1) / 1e6}")
      println(s"[pca] lambda_raw=${out.head.getLong(2)} " +
        s"top components: ${top.mkString(" ")}")
      done(spark)

    // per-group Spearman rank correlation of two numeric columns
    // object-store-safe pool upsert: stage + ONE marker PUT commits
    case "pool-commit" :: input :: poolRoot :: rest =>
      val spark = session()
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
      done(spark)

    // optional trailing gen = snapshot (time-travel) read
    case "pool-read" :: poolRoot :: outDir :: rest =>
      val spark = session()
      val df = rest.headOption match {
        case Some(gen) =>
          graft.operators.PoolCommit.read(spark, poolRoot, gen.toLong)
        case None => graft.operators.PoolCommit.read(spark, poolRoot)
      }
      df.write.mode("overwrite").parquet(outDir)
      println(s"[pool-read] -> $outDir")
      done(spark)

    // the committed snapshots still readable (oldest first)
    case "pool-generations" :: poolRoot :: Nil =>
      val spark = session()
      val fs = new org.apache.hadoop.fs.Path(poolRoot)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val gens = graft.operators.PoolCommit.listGenerations(fs, poolRoot)
      println(s"[pool-generations] ${gens.mkString(",")}")
      done(spark)

    case _ =>
      System.err.println(
        "usage: ingest <in> <pool> [vintage] [--dry-run] | " +
          "dump <pool> <out> [n] [seed] | diagnose <pool> | " +
          "stats <pool> | compact <pool> [season] | " +
          "dedup <corpus> <out> [--near | --index <idx>] [--jsonl] | " +
          "sign-index <corpus> <out> [--jsonl] | " +
          "decontaminate <corpus> <eval> <out> [k] [--bloom] [--jsonl] | " +
          "clean <corpus> <eval> <out> [minQuality] [maxDupRatio] [--jsonl] | " +
          "audit <corpus> <eval> <out> [minQuality] [maxDupRatio] [--jsonl] | " +
          "distinct <corpus> [k] [--jsonl] | " +
          "semdedup <embeddings> <out> [k] [threshold] [dim] [cellCap] | " +
          "dedup-stream <in> <idx> <out> <ckpt> | " +
          "ann-index <embeddings> <out> [planes] [dim] | " +
          "ann-query <idx> <queries> <out> [k] [planes] [dim] [--gen=N] | " +
          "ann-append <embeddings> <indexDir> | " +
          "ann-delete <idsParquet> <indexDir> [retain] | " +
          "ann-compact <indexDir> [retain] | " +
          "ann-generations <indexDir> | " +
          "pq-index <embeddings> <out> [m] [k] [iters] [dim] [cellCol] [--residual|--opq|--opq-dense] | " +
           "pq-query <idx> <queries> <out> [k] [m] [nprobe] [dim] [--refine <rawEmb> [c]] | " +
          "pq-append <idx> <embeddings> [cellCol] | " +
          "pq-delete <idx> <idsParquet> [retain] | " +
          "pq-compact <idx> [retain] | " +
          "pq-generations <idx> | " +
          "takedown <idsParquet> [--id col] [--bm25 dir] [--ann dir] [--pq dir] [--pq-id col] [--signed dir] [--pool dir] [--retain n] | " +
          "index-drift <corpusParquet> <bm25Dir> [idCol] | drift-repair <corpusParquet> [--id col] [--text col] [--bm25 dir] [--signed dir] [--retain n] | " +
          "pq-eval <embeddings> [k] [m] [kcb] [nprobe] [dim] [sampleMod] | " +
          "ann-eval <embeddings> [k] [planes] [probeBits] [dim] [sampleMod] | " +
          "pack <corpus> <out> [budget] [--jsonl] [--simple-tokens] | " +
           "mix <corpus> <out> [budget] [seed] [--jsonl] [--simple-tokens] [--alpha A] | " +
          "split <corpus> <out> [seed] [--jsonl] (parquet, split= partitions) | " +
          "chunk <corpus> <out> [size] [overlap] [--jsonl] | " +
          "gopher <corpus> <out> [minWords] [--report] [--jsonl] | " +
          "dsir <corpus> <target> <out> [buckets] [--report] [--jsonl] | " +
          "ppl <corpus> <target> <out> [buckets] [--jsonl] | " +
          "decode-image <parquet> <out> | decode-audio <parquet> <out> | " +
          "tfidf <corpus> <out> [--jsonl] | " +
          "bm25 <corpus> <out> \"<terms>\" [k] [--jsonl] | " +
          "phrase <corpus> <out> \"<exact phrase>\" [--jsonl] | " +
           "bpe-learn <corpus> <out> [rounds] [--jsonl] [--distributed] | " +
          "quantiles <parquet> <keyCol> <valCol> [k] | " +
          "tar-export <corpus> <out> [shards] [seed] [--jsonl] | " +
          "diff <oldCorpus> <newCorpus> [--out <dir>] [--jsonl] | " +
          "funnel <events> <stage,stage,...> [maxGapMin] | " +
          "funnel-stream <inDir> <state> <ckpt> <stage,...> [maxGapMin] | " +
          "retention <events> | " +
          "manifest <parquet> [outDir] | profile <parquet> | " +
          "skew <parquet> <keyCol> [topK] | " +
          "pagerank <edges> <out> [iters] [damping] | " +
          "harmonic <edges> <out> [rounds] [k] | " +
          "triangles <edges> <out> | kcore <edges> <out> [k] [rounds] | " +
          "fix-encoding <corpus> <out> [--jsonl] | " +
          "pii <corpus> <out> [--jsonl] | " +
          "robots-filter <urls> <robots> <out> [agent] | " +
          "report <corpus> [--jsonl] | " +
          "exif <parquet> <out> | mp4-meta <parquet> <out> | " +
          "overlap <corpus> <out> [groupCol] [--jsonl] | " +
          "fim <corpus> <out> [seed] [--jsonl] | " +
          "shuffle <corpus> <out> [shards] [seed] [--jsonl] (parquet, shard= partitions) | " +
          "upsert <base> <updates> <keyCol> <versionCol> <out> | " +
          "classify <corpus> <model.txt> <out> [--report] [--jsonl] | " +
          "divergence <corpus> [groupCol] [buckets] [--jsonl] | " +
          "buckets <corpus> <target> <out> [--jsonl] (parquet, bucket= partitions) | " +
          "dhash <parquet> <out> [maxBits] | " +
          "despan <corpus> <out> [k] [minLen] [--report] [--jsonl] | " +
          "semdecon <embeddings> <eval> <out> [threshold] | " +
          "sample <corpus> <out> [n] [seed] [--jsonl] | " +
          "hll <corpus> [groupCol] [--jsonl] | " +
          "pmi <corpus> [minCount] [topK] [--jsonl] | " +
          "hits <edges> <out> [rounds] | " +
          "hill <corpus> [k] [--jsonl] | " +
          "transitions <events> | burstiness <events> [topK] | " +
          "psi <oldParquet> <newParquet> <valCol> [keyCol] [binWidth] | " +
          "cdc <corpus> [mask] [topK] [--jsonl] | " +
          "rfm <events> [topK] | ab <events> <convKind> | " +
          "leadlag <events> <kindA> <kindB> [maxLag] | " +
          "zscore <parquet> <keyCol> <valCol> [topK] | " +
          "journeys <events> [steps] [topK] | assoc <events> | " +
          "joincard <events> <kindA> <kindB> | " +
          "cuped <events> <splitEpochSec> [convKind] | " +
          "ndcg <parquet> <idCol> <scoreCol> <relCol> [k] | " +
          "er <parquet> <idCol> <nameCol> [maxEdit] | " +
          "pca <embeddings> [dim] [iters] | " +
          "spearman <parquet> <groupCol> <aCol> <bCol> | " +
          "benford <parquet> <valCol> | " +
          "chisq <parquet> <rowCol> <colCol> | " +
          "mrr <parquet> <qidCol> <rankCol> <relCol> | " +
          "rouge <parquet> <idCol> <candCol> <refCol> [out] | " +
          "audit-store <corpus> <eval> <auditDir> [minQ] [maxDup] | " +
          "preflight <auditDir> | " +
          "stl <events> <groupCol> <out> [tsCol] [halfWindow] | " +
          "hazard <events> [userCol] [tsCol] | " +
          "snaive <events> <groupCol> [period] [tsCol] | " +
          "alpha <ratings> <itemCol> <valueCol> | " +
          "bh <tests> <idCol> <pMicroCol> [alphaMicro] | " +
          "blocking-eval <records> <idCol> <truthCol> <nameCol> [halfLen] | " +
          "ppr <edges> <seeds> <out> [iters] [damping] | " +
          "mwu <parquet> <valCol> <boolGroupCol> | " +
          "gini <parquet> <valCol> | " +
          "jsd <parquet> <catCol> <boolFlagCol> | " +
          "cramers <parquet> <rowCol> <colCol> | " +
          "adamic <edges> [topK] | " +
          "fs-em <pairs> <boolField1,boolField2,...> [iters] | " +
          "pool-commit <input> <poolRoot> [retain] [--csv] | " +
          "pool-read <poolRoot> <out> [gen] | " +
          "pool-generations <poolRoot> | " +
          "docpool-write <docsParquet> <poolRoot> [buckets] [idCol] [retain] | " +
          "docpool-upsert <docsParquet> <poolRoot> [idCol] [retain] | " +
          "docpool-remove <idsParquet> <poolRoot> [idCol] [retain] | " +
          "docpool-read <poolRoot> <outDir> [gen] | " +
          "sessions-stream <inDir> <state> <ckpt> [gapMin] | " +
          "sessions-report <state> <out> | " +
          "kendall <parquet> <aCol> <bCol> | " +
          "cohend <parquet> <valCol> <boolGroupCol> | " +
          "bootstrap-ci <parquet> <keyCol> <valCol> [B] [alphaMicro] | " +
          "trimmed <parquet> <valCol> [trimMicro] | " +
          "logrank <events> <userCol> <boolFlagCol> [tsCol] | " +
          "anova <parquet> <valCol> <groupCol> | " +
          "levene <parquet> <valCol> <groupCol> | " +
          "kruskal <parquet> <valCol> <groupCol> | " +
          "vocab-richness <corpus> [--jsonl] | " +
          "assortativity <edges> | " +
          "modularity <edges> <assign> | " +
          "mi <parquet> <xCol> <yCol> | " +
          "mcnemar <parquet> <predA> <predB> <label> | " +
          "rmst <events> <userCol> <tauDays> [tsCol] | " +
          "wsample <parquet> <idCol> <wCol> <n> [seed] | " +
          "calibration <corpus> <labelCol> <labelValue> <weightsDir> | " +
          "bm25-index <corpus> <outDir> [buckets] | " +
          "bm25-append <corpus> <indexDir> | " +
          "bm25-query <indexDir> <term1,term2,...> [k] [--gen=N] | " +
          "bm25-delete <idsParquet> <indexDir> [idCol] [retain] | " +
          "bm25-compact <indexDir> [idCol] [retain] | " +
          "bm25-generations <indexDir> | " +
          "qnorm <parquet> <valCol> <groupCol> <outDir> | " +
          "isotonic <parquet> <scoreMicroCol> <labelCol> [bins] | " +
          "sign-append <corpus> <indexDir> | " +
          "sign-delete <idsParquet> <indexDir> [idCol] [retain] | " +
          "sign-compact <indexDir> [retain] | " +
          "sign-generations <indexDir> | " +
          "mad <parquet> <valCol> | " +
          "propz <parquet> <boolGroupCol> <successCol> | " +
          "logistic <corpus> <labelCol> <labelValue> <outDir> " +
          "[dim] [iters] | " +
          "logistic-score <corpus> <weightsDir> <outDir> | " +
          "cochran <parquet> <predCol1,predCol2,...> | " +
          "friedman <parquet> <valCol1,valCol2,...> | " +
          "by <parquet> <idCol> <pMicroCol> [alphaMicro] | " +
          "hr <events> <userCol> <boolFlagCol> [tsCol] | " +
          "oddsratio <parquet> <exposedCol> <outcomeCol> | " +
          "ratetest <parquet> <boolGroupCol> <countCol> <expCol> | " +
          "zorder <parquet> <xCol> <yCol> <outDir> [bits] | " +
          "hilbert <parquet> <xCol> <yCol> <outDir> [bits] | " +
          "hilbert-n <parquet> <col1,col2,...> <outDir> [bits] | " +
          "zorder-n <parquet> <col1,col2,...> <outDir> [bits] | " +
          "bloom-index <parquet> <col> [m] [k] | " +
          "bloom-probe <parquet> <col> <id1,id2,...> | " +
          "bloom-read <parquet> <col> <id1,id2,...> <out> | " +
          "unigram-learn <corpus> <out> [vocab] [iters] [--jsonl] | " +
          "unigram-apply <corpus> <modelDir> <out> [--jsonl] | " +
          "skip-report <parquet> <valCol> <lo> <hi> | " +
          "kanon <parquet> <quasiCol1,...> <sensCol> <k> <l> | " +
          "mondrian <parquet> <quasiCol1,...> <k> <outDir> [depth] | " +
          "dp-counts <parquet> <groupCol> <epsMicro> <seed> <outDir> | " +
          "cmh <parquet> <stratCol> <exposedCol> <outcomeCol> | " +
          "ks <parquet> <boolGroupCol> <valCol> | " +
          "msprt <parquet> <boolGroupCol> <successCol> [tauMicro] [alphaMicro] | " +
          "dispersion <parquet> <countCol> | " +
          "kish <parquet> <weightCol> | " +
          "holm <parquet> <idCol> <pMicroCol> [alphaMicro] | " +
          "cohensh <parquet> <boolGroupCol> <successCol> | " +
          "ipw <corpus> <tCol> <tVal> <yCol> <yVal> [dim] [iters] | " +
          "aipw <corpus> <tCol> <tVal> <yCol> <yVal> [propDim] [propIters] [outDim] [outIters] | " +
          "logrank-strat <events> <userCol> <boolFlagCol> <stratCol> [tsCol] | " +
          "mkv-meta <parquet> <out> | mp3-meta <parquet> <out> | " +
          "flac-meta <parquet> <out> | ogg-meta <parquet> <out> | " +
          "warc-ingest <glob> <out> [--wet] | wet-ingest <glob> <out> | " +
          "train <corpus> <labelCol> <labelValue> <outDir> [rounds] | " +
          "freq <corpus> <term> [term...] | " +
          "funnel-report <state> <stage,stage,...> [--latency] | " +
          "agg-state <parquet> <groupCol> <valCol> <distinctCol> <stateDir> | " +
          "acf <parquet> <groupCol> [maxLag] [tsCol] | " +
          "trend <parquet> <groupCol> [tsCol] | " +
          "changepoint <parquet> <groupCol> [tsCol] | " +
          "survival <events> <userCol> [tsCol] | " +
          "theil <parquet> <groupCol> [valCol] | " +
          "welch <parquet> <valCol> <variantCol> | " +
          "ohlc <parquet> <tsCol> <tieCol> <valCol> <outDir> [bucketSec] | " +
          "outliers <parquet> <keyCol> <valCol> [k] | " +
          "kappa <parquet> <colA> <colB> | " +
          "roc-auc <parquet> <groupCol> <scoreCol> <labelCol> | " +
          "emb-drift <oldParquet> <newParquet> <groupCol> [dim] | " +
          "fk-audit <childParquet> <childKey> <parentParquet> <parentKey> | " +
          "scd2 <parquet> <keyCol> <tsCol> <tieCol> <attrCol> <outDir> | " +
          "snapshot-diff <oldParquet> <newParquet> <key1,...> <cmp1,...> | " +
          "fingerprint <parquet> <groupCol> <col1,...> | " +
          "blocklist <corpus> <term1,term2,...> [--report] | " +
          "ari <parquet> <aCol> <bCol>")
      sys.exit(2)
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
