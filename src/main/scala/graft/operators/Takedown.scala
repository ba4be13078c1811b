package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The removal pipeline's ONE CALL: tombstone a batch of document/
  * vector ids out of every persisted index family it appears in —
  * BM25 postings, hyperplane-ANN vectors, IVF-PQ codes, signed
  * MinHash rows — each through its own marker-committed delete
  * (write-once tombstone batch + ONE `_live` PUT, the
  * [[LiveMarker]] discipline), PLUS the corpus itself when a
  * [[DocPool]] path is given — the bytes, not just the serving paths:
  * [[DocPool.removeIds]] rewrites only the hash buckets the ids live
  * in (partition-pruned, marker-committed; survivors byte-identical —
  * untouched buckets are not even rewritten) and the certificate
  * gains `in_pool`/`gone_pool`, so "deleted" finally means deleted
  * from every index AND from the lake. Returns the PER-ID AUDIT ROW
  * a takedown workflow files: was the id present in each family
  * before, and is it provably gone after?
  *
  * The audit is what makes the pipeline defensible: "deleted" is a
  * claim about every serving path, so the after-membership is read
  * back through the SAME resolved reads serving uses
  * ([[graft.text.Bm25.bm25IndexIds]], `readAnnIndex`,
  * [[graft.sim.SimSearch.readPqIndex]]`(...).codes`, `readSignedIndex`)
  * — if a tombstone failed to commit anywhere, `gone_*` reads false
  * and the workflow fails loudly instead of filing a false
  * certificate.
  *
  * Scale shape: per family, membership is ONE index scan semi-joined
  * against the BROADCAST id batch (takedown batches are query-sized
  * by contract — ids never shuffle the index), the delete is the
  * family's O(batch) tombstone commit, and the audit frame is
  * batch-sized. The pool reads are partition-pruned to the ids'
  * buckets ([[DocPool.readForIds]]) and the pool delete rewrites only
  * those buckets. `retain` forwards to every lifecycle call (keep >1
  * to leave the pre-takedown snapshots readable for the audit's
  * "what did it serve before" reads — the q321 pattern).
  *
  * Families are opt-in: pass the paths you maintain. ANN resolves
  * its id column from the persisted meta; PQ uses `pqIdCol`
  * (defaults to `idCol`).
  */
object Takedown {

  def apply(spark: SparkSession, ids: DataFrame, idCol: String,
      bm25Path: Option[String] = None,
      annPath: Option[String] = None,
      pqPath: Option[String] = None,
      pqIdCol: Option[String] = None,
      signedPath: Option[String] = None,
      poolPath: Option[String] = None,
      retain: Int = 1): DataFrame = {
    require(bm25Path.orElse(annPath).orElse(pqPath).orElse(signedPath)
      .orElse(poolPath)
      .nonEmpty, "takedown needs at least one index/pool path")
    val sc = spark.sparkContext
    def labeled[A](what: String)(f: => A): A = {
      sc.setJobDescription(s"takedown: $what")
      try f finally sc.setJobDescription(null)
    }
    val base = labeled("id batch")(
      ids.select(col(idCol)).distinct().localCheckpoint())

    // one boolean column: is the id in `members` (index scan semi-
    // joined against the broadcast batch, then a broadcast flag join
    // back — the index never shuffles)
    def flagged(acc: DataFrame, members: DataFrame, memberCol: String,
        as: String): DataFrame = {
      val present = members
        .select(col(memberCol).as(idCol)).distinct()
        .join(broadcast(base), Seq(idCol), "left_semi")
        .withColumn(as, lit(true))
      acc.join(broadcast(present), Seq(idCol), "left")
        .withColumn(as, coalesce(col(as), lit(false)))
    }

    // phase 1 — ONE consistent pre-takedown snapshot: every family's
    // before-membership joins into one plan, materialized ONCE before
    // any delete mutates what a lazy read would scan
    var pre = base
    bm25Path.foreach { p =>
      pre = flagged(pre, graft.text.Bm25.bm25IndexIds(spark, p, idCol),
        idCol, "in_bm25")
    }
    annPath.foreach { p =>
      val (_, _, metaId, _) = graft.sim.SimSearch.annMeta(spark, p)
      pre = flagged(pre,
        graft.sim.SimSearch.readAnnIndex(spark, p), metaId, "in_ann")
    }
    pqPath.foreach { p =>
      pre = flagged(pre, graft.sim.SimSearch.readPqIndex(spark, p).codes,
        pqIdCol.getOrElse(idCol), "in_pq")
    }
    signedPath.foreach { p =>
      pre = flagged(pre,
        graft.text.Dedup.readSignedIndex(spark, p), idCol, "in_signed")
    }
    poolPath.foreach { p =>
      pre = flagged(pre, DocPool.readForIds(spark, p, base, idCol),
        idCol, "in_pool")
    }
    val before = labeled("before-membership")(pre.localCheckpoint())
    // phase 2 — the marker-committed deletes. Each family commits to
    // its OWN tree, so the deletes are independent Spark actions and
    // run CONCURRENTLY (guide §2.6) — max-of-families wall time
    // instead of sum-of-families.
    Par.run(
      bm25Path.map(p => () =>
        graft.text.Bm25.deleteFromBm25Index(base, p, idCol,
          retain)).toSeq ++
      annPath.map { p => () => {
        val (_, _, metaId, _) = graft.sim.SimSearch.annMeta(spark, p)
        graft.sim.SimSearch.deleteFromAnnIndex(
          base.select(col(idCol).as(metaId)), p, retain)
      }}.toSeq ++
      pqPath.map(p => () => graft.sim.SimSearch.deleteFromPqIndex(
        base.select(col(idCol).as(pqIdCol.getOrElse(idCol))), p,
        retain)).toSeq ++
      signedPath.map(p => () =>
        graft.text.Dedup.deleteFromSignedIndex(base, p, idCol,
          retain)).toSeq ++
      poolPath.map(p => () =>
        DocPool.removeIds(spark, base, p, idCol, retain)).toSeq)
    // phase 3 — certify `gone` from the SAME serving reads, again as
    // one plan materialized once (the audit artifact must be a stable
    // snapshot, not a lazy view over files a later GC may age out)
    var post = before
    def certify(members: DataFrame, memberCol: String,
        fam: String): Unit = {
      post = flagged(post, members, memberCol, s"_still_$fam")
        .withColumn(s"gone_$fam", !col(s"_still_$fam"))
        .drop(s"_still_$fam")
    }
    bm25Path.foreach(p => certify(
      graft.text.Bm25.bm25IndexIds(spark, p, idCol), idCol, "bm25"))
    annPath.foreach { p =>
      val (_, _, metaId, _) = graft.sim.SimSearch.annMeta(spark, p)
      certify(graft.sim.SimSearch.readAnnIndex(spark, p), metaId, "ann")
    }
    pqPath.foreach(p => certify(
      graft.sim.SimSearch.readPqIndex(spark, p).codes,
      pqIdCol.getOrElse(idCol), "pq"))
    signedPath.foreach(p => certify(
      graft.text.Dedup.readSignedIndex(spark, p), idCol, "signed"))
    poolPath.foreach(p => certify(
      DocPool.readForIds(spark, p, base, idCol), idCol, "pool"))
    labeled("after-certificate")(post.localCheckpoint())
  }
}

/** The serve-freshness loop CLOSED: [[Diagnose.indexDriftReport]]
  * measures how far each persisted index family drifted from the
  * corpus it serves; this operator also REMEDIATES — extra ids (a
  * takedown or dedup pass that never reached the index) tombstone out
  * through [[Takedown]], missing ids (an append that fell behind)
  * re-append through the family's own marker-committed append — and
  * re-audits. One row per family:
  * `(family, n_corpus, n_index, n_missing, n_extra, n_missing_after,
  * n_extra_after)` — after a successful repair the `_after` columns
  * are zero, and a caller that `require`s them zero has an
  * end-to-end freshness certificate across every serving path.
  *
  * Families are opt-in: the DOC families (BM25, signed MinHash, and
  * the [[DocPool]] corpus of record itself) audit against `docCorpus`
  * on `docIdCol`/`textCol`; the VECTOR families (hyperplane-ANN,
  * IVF-PQ) against `vecCorpus` on `vecIdCol`/`vecCol`. Signed-index
  * LSH parameters and the PQ (m, dim) must match the index's creation
  * (the appends validate where the index persists them). Pool
  * remediation is physical — extras [[DocPool.removeIds]] out through
  * the takedown, missing rows [[DocPool.upsert]] back in — so the
  * pool never has a tombstone shadow.
  *
  * Scale shape: the whole before-state is ONE tag-union aggregation
  * per id domain (no join, no broadcast assumption on either side) —
  * the same cached pass yields the audit counts AND the
  * extras/missing id lists, so no family is scanned twice before
  * mutation; remediation decisions read off the checkpointed 5-row
  * audit (zero extra jobs); the re-appends index ONLY the missing
  * rows, re-attached to the corpus by a broadcast semi-join (the
  * corpus never shuffles, never re-scans); the tombstone batches are
  * the per-domain unions of extras — query-sized in any healthy
  * deployment (a fully-drifted index wants a rebuild, not a repair);
  * and the per-family deletes/appends write to independent trees, so
  * they run concurrently (guide §2.6). Before-state materializes once
  * (localCheckpoint) before any mutation, the [[Takedown]] snapshot
  * discipline.
  */
object DriftRepair {

  def apply(spark: SparkSession,
      docCorpus: Option[DataFrame] = None,
      docIdCol: String = "doc_id", textCol: String = "text",
      bm25Path: Option[String] = None,
      signedPath: Option[String] = None,
      docPoolPath: Option[String] = None,
      signedShingleK: Int = 3, signedBands: Int = 8,
      signedRowsPerBand: Int = 4,
      tokenizer: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column = graft.text.TextOps.tokensSimple,
      vecCorpus: Option[DataFrame] = None,
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      annPath: Option[String] = None,
      pqPath: Option[String] = None, pqM: Int = 2, pqDim: Int = 64,
      pqCellCol: Option[String] = None,
      retain: Int = 1): DataFrame = {
    require((docCorpus.nonEmpty &&
        bm25Path.orElse(signedPath).orElse(docPoolPath).nonEmpty) ||
      (vecCorpus.nonEmpty && annPath.orElse(pqPath).nonEmpty),
      "drift repair needs a corpus and at least one index family")

    // (family, corpus frame, its id col, live index-id read)
    def famReads(): Seq[(String, DataFrame, String, DataFrame)] = {
      val doc = docCorpus.toSeq.flatMap { c =>
        bm25Path.map(p => ("bm25", c, docIdCol,
          graft.text.Bm25.bm25IndexIds(spark, p, docIdCol))).toSeq ++
        signedPath.map(p => ("signed", c, docIdCol,
          graft.text.Dedup.readSignedIndex(spark, p)
            .select(col(docIdCol)))).toSeq ++
        docPoolPath.map(p => ("pool", c, docIdCol,
          DocPool.read(spark, p).select(col(docIdCol)))).toSeq
      }
      val vec = vecCorpus.toSeq.flatMap { c =>
        annPath.map { p =>
          val (_, _, metaId, _) = graft.sim.SimSearch.annMeta(spark, p)
          ("ann", c, vecIdCol,
            graft.sim.SimSearch.readAnnIndex(spark, p)
              .select(col(metaId).as(vecIdCol)))
        }.toSeq ++
        pqPath.map(p => ("pq", c, vecIdCol,
          graft.sim.SimSearch.readPqIndex(spark, p).codes
            .select(col(vecIdCol)).distinct())).toSeq
      }
      doc ++ vec
    }


    val famsBefore = famReads()
    val docFams = famsBefore.filter(f =>
      Set("bm25", "signed", "pool")(f._1))
    val vecFams = famsBefore.filter(f => Set("ann", "pq")(f._1))

    // ONE consistent pre-repair snapshot, computed as ONE tag-union
    // pass per id domain (the [[Diagnose.indexDriftReport]] shape,
    // extended per family): every family's corpus/index ids union
    // under a family tag, group once per (family, id), and that one
    // cached frame yields BOTH the before-audit counts AND the
    // extras/missing id lists — the audit and the four per-direction
    // anti-join passes of the previous shape collapse into two jobs,
    // and no family is scanned more than once before mutation.
    def tagGrouped(fams: Seq[(String, DataFrame, String, DataFrame)])
        : Option[DataFrame] =
      fams.map { case (name, corpus, idc, index) =>
        corpus.select(col(idc).as("_id"), lit(1L).as("_c"),
            lit(0L).as("_i"))
          .unionByName(index.select(col(idc).as("_id"),
            lit(0L).as("_c"), lit(1L).as("_i")))
          .withColumn("_fam", lit(name))
      }.reduceOption(_ unionByName _)
        .map(_.groupBy(col("_fam"), col("_id"))
          .agg(max(col("_c")).as("_c"), max(col("_i")).as("_i")))
    // persisted: the before flow reads the same frame for the audit
    // counts AND the extras/missing id lists
    def grouped(fams: Seq[(String, DataFrame, String, DataFrame)])
        : Option[DataFrame] = tagGrouped(fams).map(_.persist())
    // one row per family even when a family's corpus AND index are
    // both empty (the aggregate would drop the group; the seeded
    // left join keeps the row with null counts, the exact output of
    // the per-family [[Diagnose.indexDriftReport]] fold)
    def auditFrom(g: Option[DataFrame],
        fams: Seq[(String, DataFrame, String, DataFrame)])
        : Option[DataFrame] = g.map { gr =>
      import spark.implicits._
      val counts = gr.groupBy(col("_fam").as("family"))
        .agg(sum(col("_c")).as("n_corpus"),
          sum(col("_i")).as("n_index"),
          sum(when(col("_c") === 1L && col("_i") === 0L, 1L)
            .otherwise(0L)).as("n_missing"),
          sum(when(col("_c") === 0L && col("_i") === 1L, 1L)
            .otherwise(0L)).as("n_extra"))
      fams.map(_._1).toDF("family").join(counts, Seq("family"), "left")
    }
    // the after-audit in the before-audit's tag-union shape: ONE
    // groupBy per id domain instead of one Diagnose pass per family
    // (same set algebra — auditFrom's seeded left join reproduces the
    // per-family indexDriftReport fold row for row)
    def audit(fams: Seq[(String, DataFrame, String, DataFrame)],
        suffix: String): DataFrame = {
      val doc = fams.filter(f => Set("bm25", "signed", "pool")(f._1))
      val vec = fams.filter(f => Set("ann", "pq")(f._1))
      (auditFrom(tagGrouped(doc), doc).toSeq ++
        auditFrom(tagGrouped(vec), vec).toSeq)
        .reduce(_ unionByName _)
        .select(col("family"), col("n_corpus"), col("n_index"),
          col("n_missing").as(s"n_missing$suffix"),
          col("n_extra").as(s"n_extra$suffix"))
    }
    val sc = spark.sparkContext
    def labeled[A](what: String)(f: => A): A = {
      sc.setJobDescription(s"driftRepair: $what")
      try f finally sc.setJobDescription(null)
    }
    val docG = grouped(docFams)
    val vecG = grouped(vecFams)
    val before = labeled("before-audit")((auditFrom(docG, docFams).toSeq ++
      auditFrom(vecG, vecFams).toSeq)
      .reduce(_ unionByName _).localCheckpoint())
    // the drifted ids only — query-sized in any healthy deployment
    val docDiff = labeled("doc diff ids")(docG.map(_.filter(col("_c") === 0L ||
      col("_i") === 0L).localCheckpoint()))
    val vecDiff = labeled("vec diff ids")(vecG.map(_.filter(col("_c") === 0L ||
      col("_i") === 0L).localCheckpoint()))
    docG.foreach(_.unpersist())
    vecG.foreach(_.unpersist())
    // remediation decisions read off the 5-row checkpointed audit —
    // zero extra Spark jobs
    val beforeRows = before.collect()
    def cnt(fam: String, c: String): Long =
      beforeRows.find(_.getString(0) == fam).map { r =>
        val i = r.fieldIndex(c)
        if (r.isNullAt(i)) 0L else r.getLong(i)
      }.getOrElse(0L)

    // extras → ONE union tombstone batch per id domain (absent-from-
    // a-family ids are harmless no-ops, so the union batch serves
    // every family), committed by each family's own marker-committed
    // delete; the per-family deletes write to independent trees and
    // run CONCURRENTLY (guide §2.6)
    def extraIds(diff: Option[DataFrame], as: String): DataFrame =
      diff.get.filter(col("_c") === 0L)
        .select(col("_id").as(as)).distinct()
    if (docFams.map(f => cnt(f._1, "n_extra")).sum > 0L) {
      val ids = extraIds(docDiff, docIdCol)
      Par.run(
        bm25Path.map(p => () => labeled("delete extras: bm25")(
          graft.text.Bm25.deleteFromBm25Index(
            ids, p, docIdCol, retain))).toSeq ++
        signedPath.map(p => () => labeled("delete extras: signed")(
          graft.text.Dedup
            .deleteFromSignedIndex(ids, p, docIdCol, retain))).toSeq ++
        docPoolPath.map(p => () => labeled("delete extras: pool")(
          DocPool.removeIds(spark, ids, p, docIdCol, retain))).toSeq)
    }
    if (vecFams.map(f => cnt(f._1, "n_extra")).sum > 0L) {
      val ids = extraIds(vecDiff, vecIdCol)
      Par.run(
        annPath.map { p => () => labeled("delete extras: ann") {
          val (_, _, metaId, _) = graft.sim.SimSearch.annMeta(spark, p)
          graft.sim.SimSearch.deleteFromAnnIndex(
            ids.select(col(vecIdCol).as(metaId)), p, retain)
        }}.toSeq ++
        pqPath.map(p => () => labeled("delete extras: pq")(
          graft.sim.SimSearch.deleteFromPqIndex(ids, p, retain))).toSeq)
    }

    // missing → the family's marker-committed append, fed ONLY the
    // missing rows: the decision came from the id-only pass, and the
    // rows re-attach by a broadcast semi-join against the missing ids
    // (null-safe, so a null-id corpus row round-trips exactly as the
    // previous anti-join shape did) — the corpus itself never shuffles
    def missingRows(diff: Option[DataFrame], fam: String,
        corpus: DataFrame, idc: String): DataFrame = {
      val m = diff.get.filter(col("_fam") === fam && col("_i") === 0L)
        .select(col("_id"))
      corpus.join(broadcast(m), corpus(idc) <=> m("_id"), "left_semi")
    }
    val missing: Map[String, DataFrame] =
      (docFams.map(f => f._1 ->
        missingRows(docDiff, f._1, f._2, f._3)) ++
       vecFams.map(f => f._1 ->
         missingRows(vecDiff, f._1, f._2, f._3))).toMap
    def appendFor(name: String, m: DataFrame): Unit = name match {
      case "bm25" => graft.text.Bm25.appendToBm25Index(m, textCol,
        docIdCol, bm25Path.get, tokenizer, retain)
      case "signed" => graft.text.Dedup.appendToSignedIndex(m,
        signedPath.get, textCol, docIdCol, signedShingleK,
        signedBands, signedRowsPerBand, tokenizer, retain = retain)
      case "pool" => DocPool.upsert(m, docPoolPath.get, docIdCol,
        retain)
      case "ann" => graft.sim.SimSearch.appendToAnnIndex(m,
        annPath.get, vecIdCol, vecCol, retain)
      case "pq" => graft.sim.SimSearch.appendToPqIndex(m, pqPath.get,
        vecIdCol, vecCol, pqM, pqDim, cellCol = pqCellCol)
    }
    def compactFor(name: String): Unit = name match {
      case "bm25" => graft.text.Bm25.compactBm25Index(spark,
        bm25Path.get, docIdCol, retain)
      case "signed" => graft.text.Dedup.compactSignedIndex(spark,
        signedPath.get, retain)
      case "ann" => graft.sim.SimSearch.compactAnnIndex(spark,
        annPath.get, retain)
      case "pq" => graft.sim.SimSearch.compactPqIndex(spark,
        pqPath.get, retain)
      case "pool" => () // physical removal: no tombstone to fold
    }
    // append decisions come from the checkpointed audit counts (no
    // per-family isEmpty jobs); independent per-family appends
    // overlap (guide §2.6)
    Par.run(missing.toSeq.collect {
      case (name, m) if cnt(name, "n_missing") > 0L =>
        () => labeled(s"append missing: $name")(appendFor(name, m))
    })
    // re-audit through fresh serving reads — this IS the resurrect
    // detector: a missing id that was previously TOMBSTONED (a
    // takedown that outran the corpus refresh) is shadowed — its
    // re-appended rows stay invisible (BM25/ANN/signed reads anti-join
    // the tombstones; PQ's append dedupe skips ids whose dead rows
    // still sit in the live codes) until the tombstone compacts away,
    // and it surfaces here as residual n_missing_after.
    var after = labeled("after-audit")(
      audit(famReads(), "_after").localCheckpoint())
    val shadowed = after
      .filter(col("n_missing_after") > 0L)
      .select(col("family")).collect().map(_.getString(0)).toSet
    if (shadowed.nonEmpty) {
      // RESURRECT pass: the shadowed families pay ONE compaction
      // (folds tombstones and the shadowed segment) and re-append the
      // residual — the only case where repair rewrites more than the
      // drifted rows, and exactly the family compaction the removal
      // pipeline owes anyway. The clean path (no shadow) costs zero
      // extra jobs: the after-audit doubles as the detector.
      famReads().filter(f => shadowed(f._1)).foreach {
        case (name, corpus, idc, index) =>
          val resid = corpus
            .join(broadcast(index), Seq(idc), "left_anti")
            .localCheckpoint()
          if (!resid.isEmpty) {
            compactFor(name)
            appendFor(name, resid)
          }
      }
      after = labeled("after-audit (post-resurrect)")(
        audit(famReads(), "_after").localCheckpoint())
    }
    labeled("report")(before.join(
      after.select(col("family"), col("n_missing_after"),
        col("n_extra_after")),
      Seq("family")).localCheckpoint())
  }
}
