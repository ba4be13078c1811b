package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Marker-committed DOCUMENT pool — the corpus half of the removal
  * pipeline. The index families delete through tombstones
  * ([[graft.operators.Takedown]]), but the documents themselves live
  * in lake parquet, and a right-to-be-forgotten workflow must rewrite
  * the bytes, not just stop serving them. This pool makes that rewrite
  * O(affected partitions), not O(corpus): rows are hash-bucketed by id
  * (`part = pmod(xxhash64(id), buckets)`), so the partitions holding
  * any id batch are computable from the ids alone and [[removeIds]]
  * rewrites ONLY those buckets — at 100 TB with 4096 buckets a
  * 20-id takedown rewrites at most 20 buckets (~0.5% of the corpus),
  * never the lake.
  *
  * Commit protocol: [[MarkerPool]] with single-level `part=<P>`
  * partitions — write-once `gen=<N>/part=<P>` directories + ONE
  * `_doc_marker.<N>` PUT mapping each bucket to its live generation.
  * A rewrite stages the touched buckets' survivors under the fresh
  * generation and flips them in one PUT (untouched buckets keep their
  * old directories — their bytes are never rewritten, so survivors
  * are byte-identical by construction); a crash before the PUT leaves
  * the staged survivors unreferenced and the takedown simply did not
  * happen yet. `retain` keeps superseded snapshots readable
  * ([[listGenerations]] / the gen overload of [[read]]) — the
  * pre-takedown audit read.
  *
  * The bucket count and id column freeze at [[write]] time in
  * `_doc_meta` (the `_`-prefix hides it from plain parquet readers);
  * id-keyed operations validate against it, so a mis-bucketed rewrite
  * is impossible.
  */
object DocPool {

  private val pool = new MarkerPool("_doc_marker.", Seq("part="))

  /** The bucket an id hashes to — the layout's one invariant. */
  def partOf(idCol: Column, buckets: Int): Column =
    pmod(xxhash64(idCol), lit(buckets.toLong))

  private def readMeta(
      spark: SparkSession, root: String): (Int, String) = {
    val m = spark.read.parquet(s"$root/_doc_meta").head()
    (m.getAs[Int]("buckets"), m.getAs[String]("id_col"))
  }

  /** Full-corpus snapshot write: stage EVERY bucket under a fresh
    * generation and point the whole marker at it (a complete replace —
    * per-bucket upsert is [[removeIds]]' job in the other direction;
    * growth goes through a fresh write or the streaming ingest path).
    */
  def write(docs: DataFrame, root: String, idCol: String,
      buckets: Int = 64, retain: Int = 1,
      appliedId: Long = -1L): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    val fs = LiveRead.fs(spark, root)
    pool.heal(fs, root, retain) // finish/GC any interrupted write
    val prev = pool.readMarker(fs, root)
    val gen = prev.gen + 1L
    // the layout FREEZES at the first write: a later full write must
    // keep (buckets, idCol) — meta is never overwritten, so a crash
    // between meta and marker can not desync the bucket math from the
    // directories a reader resolves (changing the fan-out means
    // deleting the pool and rewriting)
    if (fs.exists(new Path(s"$root/_doc_meta"))) {
      val (b0, id0) = readMeta(spark, root)
      require(b0 == buckets && id0 == idCol,
        s"doc pool at $root is frozen at (buckets=$b0, id=$id0); " +
          s"write offered (buckets=$buckets, id=$idCol)")
    } else
      Seq((buckets, idCol)).toDF("buckets", "id_col").coalesce(1)
        .write.mode("errorifexists").parquet(s"$root/_doc_meta")
    WriteLayout.clusterBy(
      docs.filter(col(idCol).isNotNull)
        .withColumn("part", partOf(col(idCol), buckets)),
      "part")
      .write.partitionBy("part")
      .mode("errorifexists") // collision = concurrent writer, fail loud
      .parquet(s"$root/gen=$gen")
    val written = pool.partsUnder(fs, new Path(s"$root/gen=$gen"))
    // a full write REPLACES: every live bucket points at the new gen
    pool.writeMarker(fs, root,
      pool.Marker(gen, written.map(_ -> gen).toMap, prev.retain,
        math.max(prev.applied, appliedId)), retain)
    pool.heal(fs, root, retain)
  }

  /** The live buckets an id batch can touch, as (relative path → live
    * gen) pairs — ids are query-sized by contract, so the bucket list
    * collects (bounded by min(|ids|, buckets)).
    */
  private def targetParts(spark: SparkSession, root: String,
      ids: DataFrame, idCol: String,
      m: MarkerPool#Marker): Seq[(String, Long)] = {
    val (buckets, metaId) = readMeta(spark, root)
    require(metaId == idCol,
      s"doc pool at $root is bucketed by '$metaId', got '$idCol'")
    val target = ids.select(partOf(col(idCol), buckets).as("_p"))
      .distinct().collect().map(r => s"part=${r.getLong(0)}").toSet
    m.parts.toSeq.filter(t => target.contains(t._1)).sortBy(_._1)
  }

  /** PHYSICALLY remove an id batch from the pool: rewrite only the
    * buckets the ids hash to (survivor rows anti-joined against the
    * BROADCAST batch), commit with one marker PUT — touched buckets
    * flip to the new generation, every other bucket keeps its
    * existing directory untouched (survivors outside the touched
    * buckets are byte-identical trivially; inside them, row-identical
    * by the anti-join). A bucket whose every row was removed drops
    * from the marker. Ids absent from the pool are harmless no-ops.
    */
  def removeIds(spark: SparkSession, ids: DataFrame, root: String,
      idCol: String, retain: Int = 1): Unit = {
    val fs = LiveRead.fs(spark, root)
    pool.heal(fs, root, retain)
    val prev = pool.readMarker(fs, root)
    require(prev.parts.nonEmpty,
      s"no committed doc pool under $root (guard with hasPool)")
    val base = ids.select(col(idCol)).distinct()
    val touched = targetParts(spark, root, base, idCol, prev)
    if (touched.isEmpty) return // ids hash only to empty buckets
    val gen = prev.gen + 1L
    // partition-pruned read of ONLY the touched buckets; `part` rides
    // along as a partition column so the rewrite lands bucket-true
    pool.readParts(spark, root, touched)
      .drop("gen")
      .join(broadcast(base), Seq(idCol), "left_anti")
      .transform(WriteLayout.clusterBy(_, "part"))
      .write.partitionBy("part").mode("errorifexists")
      .parquet(s"$root/gen=$gen")
    val written = pool.partsUnder(fs, new Path(s"$root/gen=$gen"))
    val next = (prev.parts -- touched.map(_._1)) ++
      written.map(_ -> gen).toMap
    pool.writeMarker(fs, root,
      pool.Marker(gen, next, prev.retain, prev.applied), retain)
    pool.heal(fs, root, retain)
  }

  /** Per-bucket UPSERT: replace rows whose id is in `docs`, add rows
    * whose id is new — rewriting ONLY the buckets the batch's ids
    * hash to (the [[removeIds]] pruning applied to growth): each
    * touched bucket's survivors (old rows anti-joined against the
    * BROADCAST batch ids) union the batch's rows for that bucket,
    * staged under a fresh generation and committed with one marker
    * PUT; untouched buckets keep their directories. Duplicate ids
    * WITHIN the batch are rejected loudly (an upsert with two
    * versions of one doc has no deterministic winner).
    *
    * `appliedId` records the stream batch id in the SAME marker PUT
    * (the [[LiveMarker]] sid discipline) — the exactly-once handle
    * [[graft.streaming.StreamingDocPool]] skips replays by.
    */
  def upsert(docs: DataFrame, root: String, idCol: String,
      retain: Int = 1, appliedId: Long = -1L): Unit = {
    val spark = docs.sparkSession
    val fs = LiveRead.fs(spark, root)
    pool.heal(fs, root, retain)
    val prev = pool.readMarker(fs, root)
    require(prev.parts.nonEmpty,
      s"no committed doc pool under $root (bootstrap with write)")
    val (buckets, metaId) = readMeta(spark, root)
    require(metaId == idCol,
      s"doc pool at $root is bucketed by '$metaId', got '$idCol'")
    val batch = docs.filter(col(idCol).isNotNull).localCheckpoint()
    require(batch.groupBy(col(idCol)).count()
      .filter(col("count") > 1L).isEmpty,
      "upsert batch carries duplicate ids — no deterministic winner")
    val ids = batch.select(col(idCol))
    val gen = prev.gen + 1L
    // every bucket the batch touches needs its directory rewritten —
    // including buckets with no current rows (pure growth)
    val targetSet = ids
      .select(partOf(col(idCol), buckets).as("_p"))
      .distinct().collect().map(r => s"part=${r.getLong(0)}").toSet
    val existing = prev.parts.toSeq
      .filter(t => targetSet.contains(t._1)).sortBy(_._1)
    val survivors =
      if (existing.isEmpty) batch.filter(lit(false))
      else pool.readParts(spark, root, existing)
        .drop("gen", "part")
        .join(broadcast(ids), Seq(idCol), "left_anti")
    WriteLayout.clusterBy(
      survivors.unionByName(batch)
        .withColumn("part", partOf(col(idCol), buckets)),
      "part")
      .write.partitionBy("part").mode("errorifexists")
      .parquet(s"$root/gen=$gen")
    val written = pool.partsUnder(fs, new Path(s"$root/gen=$gen"))
    val next = (prev.parts -- targetSet) ++ written.map(_ -> gen).toMap
    pool.writeMarker(fs, root,
      pool.Marker(gen, next, prev.retain,
        math.max(prev.applied, appliedId)), retain)
    pool.heal(fs, root, retain)
  }

  /** The highest stream batch id a marker commit recorded (-1 =
    * never streamed) — [[graft.streaming.StreamingDocPool]]'s
    * exactly-once skip handle.
    */
  def lastAppliedStreamBatch(
      spark: SparkSession, root: String): Long =
    pool.readMarker(LiveRead.fs(spark, root), root).applied

  /** The pool rows holding any of `ids` — the membership read
    * [[Takedown]] certifies against, partition-pruned to the ids'
    * buckets (a 20-id probe opens ≤20 bucket directories, never the
    * lake; the [[Diagnose.readWithBloom]] shape with the pruning
    * guaranteed by layout instead of a side-car).
    */
  def readForIds(spark: SparkSession, root: String, ids: DataFrame,
      idCol: String): DataFrame = {
    val fs = LiveRead.fs(spark, root)
    val m = pool.readMarker(fs, root)
    val base = ids.select(col(idCol)).distinct()
    if (m.parts.isEmpty)
      return base.filter(lit(false)) // empty pool: nothing matches
    val touched = targetParts(spark, root, base, idCol, m)
    if (touched.isEmpty) return base.filter(lit(false))
    pool.readParts(spark, root, touched)
      .drop("gen", "part")
      .join(broadcast(base), Seq(idCol), "left_semi")
  }

  /** All committed pool rows — resolves through the newest complete
    * marker (an in-flight or crashed write is invisible); the
    * protocol's `gen` and the synthetic `part` bucket are dropped.
    * Snapshot semantics as in [[PoolCommit.read]].
    */
  def read(spark: SparkSession, root: String): DataFrame =
    pool.readSnapshot(spark, root,
      pool.readMarker(LiveRead.fs(spark, root), root), Seq("gen", "part"))

  /** TIME-TRAVEL read: the corpus exactly as committed by snapshot
    * `gen` — "what did the pool hold before this takedown batch?".
    */
  def read(spark: SparkSession, root: String, gen: Long): DataFrame =
    pool.readSnapshot(spark, root,
      pool.markerAt(LiveRead.fs(spark, root), root, gen,
        "raise the lifecycle calls' retain"), Seq("gen", "part"))

  /** The committed snapshot generations still on disk, oldest first. */
  def listGenerations(spark: SparkSession, root: String): Seq[Long] =
    pool.listGenerations(LiveRead.fs(spark, root), root)

  /** True when at least one committed bucket exists. */
  def hasPool(spark: SparkSession, root: String): Boolean =
    pool.readMarker(LiveRead.fs(spark, root), root).parts.nonEmpty
}
