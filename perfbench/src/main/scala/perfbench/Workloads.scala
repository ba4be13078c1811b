package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ingest, PlayOps, Pool, PoolCommit, Tensor}
import graft.schema.Vintages
import graft.sim.SimSearch
import graft.text.{Bm25, Pipeline}

/** What an op hands back: `after` runs at once, outside the op's latency
  * and the timed wall (probes that must see the state the op left);
  * `check` runs after the timed loop and returns a failure reason. */
final case class Outcome(check: () => Option[String], after: () => Unit = () => ())

final case class Op(kind: String, write: Boolean, run: () => Outcome)

/** A workload: set-up builds its inputs and the structures it serves, and
  * `op(i)` is the i-th op of its closed-loop schedule; the inputs come
  * from the seed. */
abstract class Workload(val spark: SparkSession, val seed: Long, val spans: Spans) {
  def setup(dir: File): Unit
  /** The op kinds of the workload's repeating block, the same for every
    * seed (seeds vary the data, not the mix). The timed loop runs whole
    * blocks, so every run times the whole mix. */
  def block: Vector[String]
  /** The i-th op; a phase starts at a block boundary. */
  def op(i: Int): Op = opOf(block(i % block.size), i)
  /** An op of `kind`; `i` picks its data. */
  protected def opOf(kind: String, i: Int): Op
  /** The op kinds run after set-up, untimed, so that every kind has run,
    * and the JIT has compiled the hot paths, before the timed loop starts;
    * they end in the state a block ends in. */
  def warmKinds: Vector[String]
  /** The warm-up ops, at indices no timed op uses. */
  def warmup(): Seq[Op] = warmKinds.zipWithIndex.map { case (k, j) => opOf(k, (1 << 24) + j) }
  /** State the per-layer probes read before a read op (FS listings). */
  def probe(): Map[String, Double] = Map.empty
  /** Checks of the state left at the end of the run. */
  def finalCheck(): Option[String] = None
  /** Live input bytes and the bytes the pool or indexes hold on disk,
    * taken after the output checks. */
  def footprint(): (Long, Long)
  /** Input bytes the writes so far have landed. */
  var landed = 0L

  /** Collects `df`; traced runs force the physical plan first, in its own
    * span, so planning shows apart from execution. */
  protected def collect(df: DataFrame): Array[Row] = {
    if (spans.enabled) spans("catalyst.plan")(df.queryExecution.executedPlan)
    spans("bench.collect")(df.collect())
  }
}

object Workloads {
  val names: Seq[String] = Seq("tracking_lake", "hybrid_index")
  def apply(name: String, spark: SparkSession, seed: Long, spans: Spans): Workload = name match {
    case "tracking_lake" => new TrackingLake(spark, seed, spans)
    case "hybrid_index" => new HybridIndex(spark, seed, spans)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** A whole-number column whatever width partition inference gave it. */
  def long(r: Row, col: String): Long = r.getAs[Number](col).longValue

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L) else f.length()
}

/** The paper's workflow: ML batches and frontend play fetches read the
  * pool while weekly drops land through both commit protocols. */
final class TrackingLake(spark: SparkSession, seed: Long, spans: Spans)
    extends Workload(spark, seed, spans) {
  val t: Gen.Tracking = Gen.Tracking(seed, gamesPerSeason = 4)
  val maxFrames = 48
  val batchPlays = 16
  val dropGames = 2
  val nDrops = 4
  private var renamePool, markerPool: String = _
  private var drops: Vector[Gen.Drop] = Vector.empty
  private val liveInput = scala.collection.mutable.Map.empty[Long, Long]
  private var nDropped = 0

  def setup(dir: File): Unit = {
    renamePool = new File(dir, "pool").getPath
    markerPool = new File(dir, "marker_pool").getPath
    // the initial backfill arrives in one vintage and lands as one job;
    // weekly drops mix vintages and go through the per-file ingest
    val init = new File(dir, "backfill")
    t.games.foreach(g => Gen.writeGameCsv(t, g, 0, new File(init, s"week-$g.csv")))
    drops = Vector.tabulate(nDrops) { d =>
      val games = t.games.sortBy(g => Gen.hash(seed, 0x64726fL, d, g)).take(dropGames)
      Gen.writeDrop(t, new File(dir, s"drops/$d"), games,
        corrupt = Gen.below(Gen.hash(seed, 0x636f72L, d), 3) == 0, key = d.toLong)
    }
    liveInput.clear()
    t.games.foreach(g => liveInput(g) = new File(init, s"week-$g.csv").length())
    nDropped = 0
    val got = Ingest.ingestAll(spark, s"$init/*.csv", renamePool, Vintages.canonical)
    val want = Checks.summaryOf(t, t.games)
    if (got != want) throw new IllegalStateException(s"backfill summary $got != $want")
    PoolCommit.write(Pool(spark, renamePool).df, markerPool)
  }

  val block: Vector[String] = Vector("ml_batch", "ml_batch", "ml_batch", "fetch", "drop",
    "ml_batch", "ml_batch", "ml_batch", "fetch", "drop", "compact")

  protected def opOf(kind: String, i: Int): Op = kind match {
    case "ml_batch" => Op("ml_batch", write = false, () => mlBatch(i))
    case "fetch" => Op("fetch", write = false, () => fetch(i))
    case "drop" =>
      val d = drops(nDropped % nDrops)
      nDropped += 1
      Op("drop", write = true, () => ingestDrop(d))
    case _ => Op("compact", write = true, () => compact())
  }

  // a whole block: these short ops keep speeding up through a first one
  val warmKinds: Vector[String] = block

  private def mlBatch(i: Int): Outcome = {
    val season = t.seasons(i % t.seasons.size)
    val sample = spans("operators.Pool.samplePlays")(Pool(spark, renamePool)
      .samplePlays(batchPlays, Seq(col("season") === season), seed = Gen.hash(seed, 0x6d6cL, i)))
    val tensor = spans("operators.Tensor.toTensor")(
      Tensor.toTensor(sample, Tensor.defaultFeatures, maxFrames, 23))
    val rows = collect(tensor)
    Outcome(() => Checks.tensorBatch(t, season, batchPlays, rows.map(r => Checks.TensorRow(
      Workloads.long(r, "gameId"), r.getAs[Int]("playId"), r.getAs[Int]("n_frames"),
      TrackingLake.centsSum(r.get(r.fieldIndex("tensor")))))))
  }

  private def fetch(i: Int): Outcome = {
    val g = t.games(Gen.below(Gen.hash(seed, 0x6665L, i), t.games.size))
    val p = t.plays(g)(Gen.below(Gen.hash(seed, 0x6670L, i), t.playsPerGame))
    val pool = spans("operators.PoolCommit.read")(PoolCommit.read(spark, markerPool))
    val play = spans("operators.PlayOps.fetchPlay")(PlayOps.fetchPlay(pool, g, p))
    val frames = collect(play)
    val tel = collect(spans("operators.PlayOps.telemetry")(PlayOps.telemetry(play)))
    Outcome(() => Checks.playFetch(t, g, p, frames.map(_.getAs[Int]("frameId")).toSeq,
      tel.map(r => Checks.Telemetry(r.getAs[Int]("total_frames"), r.getAs[Long]("n_players"),
        math.round(r.getAs[Float]("max_speed").toDouble * 100))).toSeq))
  }

  private def ingestDrop(d: Gen.Drop): Outcome = {
    val res = spans("operators.Ingest.run")(Ingest.run(spark, d.dir.getPath, renamePool, Vintages.canonical))
    spans("operators.PoolCommit.write")(PoolCommit.write(
      Pool(spark, renamePool).df.filter(col("gameId").isin(d.games: _*)), markerPool))
    d.games.foreach(g => liveInput(g) = new File(d.dir, s"week-$g.csv").length())
    landed += d.bytes
    Outcome(() => Checks.ingest(t, d, res.summary, res.badFiles))
  }

  private def compact(): Outcome = {
    spans("operators.Ingest.compactPool")(Ingest.compactPool(spark, renamePool))
    var perPartition = Seq.empty[Int]
    Outcome(() => Checks.expect(perPartition.nonEmpty && perPartition.forall(_ == 1),
        s"compacted partitions hold ${perPartition.distinct.sorted.mkString(",")} files"),
      after = () => perPartition = TrackingLake.filesPerPartition(new File(renamePool)))
  }

  override def probe(): Map[String, Double] = {
    val n = TrackingLake.filesPerPartition(new File(renamePool))
    Map("pool.files_per_partition" -> n.sum.toDouble / math.max(1, n.size))
  }

  def footprint(): (Long, Long) = (liveInput.values.sum,
    Workloads.du(new File(renamePool)) + Workloads.du(new File(markerPool)))
}

object TrackingLake {
  /** Σ round(100·v) over every number in a nested tensor value. */
  def centsSum(x: Any): Long = x match {
    case null => 0L
    case f: Float => math.round(f.toDouble * 100)
    case s: scala.collection.Iterable[_] => s.iterator.map(centsSum).sum
    case other => throw new IllegalArgumentException(s"unexpected tensor cell ${other.getClass}")
  }

  /** Parquet files per game partition of a Hive-partitioned pool. */
  def filesPerPartition(root: File): Seq[Int] = {
    def dirs(f: File, prefix: String): Seq[File] =
      Option(f.listFiles).toSeq.flatten.filter(d => d.isDirectory && d.getName.startsWith(prefix))
    for (s <- dirs(root, "season="); g <- dirs(s, "gameId="))
      yield Option(g.listFiles).toSeq.flatten.count(_.getName.endsWith(".parquet"))
  }
}

/** The overhead-bound workload: hybrid BM25 + ANN serves over persisted
  * indexes while cleaned append batches and delete batches land and
  * compaction folds them. */
final class HybridIndex(spark: SparkSession, seed: Long, spans: Spans)
    extends Workload(spark, seed, spans) {
  val ic = new Gen.IndexCorpus(seed)
  val initialDocs = 1000
  val queries = 4
  val k = 10
  val planes = 4
  val buckets = 16
  private var bm25Path, annPath: String = _
  private var evalDf: DataFrame = _
  private var live: Set[Long] = Set.empty
  private var deleted: Set[Long] = Set.empty
  private var nextId = 0L
  private var segments, serves, writes = 0

  import spark.implicits._

  private def textDf(docs: Seq[Gen.Doc]): DataFrame = docs.map(d => (d.id, d.text)).toDF("id", "text")
  private def docsDf(ids: Iterable[Long]): DataFrame = textDf(ids.toSeq.map(id => Gen.Doc(id, ic.doc(id).text)))
  private def vecDf(ids: Iterable[Long]): DataFrame =
    ids.toSeq.map(ic.doc).map(d => (d.id, d.vec.toSeq.map(_.toFloat))).toDF("id", "vec")

  def setup(dir: File): Unit = {
    bm25Path = new File(dir, "bm25").getPath
    annPath = new File(dir, "ann").getPath
    live = (0L until initialDocs).toSet
    deleted = Set.empty
    nextId = initialDocs
    segments = 0; serves = 0; writes = 0
    evalDf = textDf(ic.eval)
    spans("text.Bm25.write")(
      Bm25.writeBm25Index(docsDf(live.toSeq.sorted), "text", "id", bm25Path, buckets = buckets))
    spans("sim.SimSearch.write")(
      SimSearch.writeAnnIndex(vecDf(live.toSeq.sorted), annPath, "id", "vec", planes = planes, dim = ic.dim))
  }

  // one op of each kind: a serve runs enough code to warm on a single call
  val warmKinds: Vector[String] = Vector("append", "delete", "serve", "compact")

  // every serve reads the same debt: the live generation, one append and
  // one delete batch; compaction then folds both
  val block: Vector[String] = Vector("append", "delete", "serve", "serve", "serve", "compact")

  protected def opOf(kind: String, i: Int): Op = kind match {
    case "serve" => Op("serve", write = false, () => serve(i))
    case "append" => Op("append", write = true, () => append())
    case "delete" => Op("delete", write = true, () => delete())
    case _ => Op("compact", write = true, () => compact())
  }

  private def qtermsDf(i: Int): DataFrame =
    (0 until queries).flatMap(q => ic.queryTerms(i, q).map(w => (-1L - q, w))).toDF("qid", "term")

  private def serve(i: Int): Outcome = {
    val qt = qtermsDf(i)
    val qv = (0 until queries).map(q => (-1L - q, ic.queryVec(i, q).toSeq.map(_.toFloat))).toDF("id", "vec")
    val bm = spans("text.Bm25.topK")(Bm25.topKFromIndex(spark, bm25Path, qt, "qid", "id", k))
    val idx = spans("sim.SimSearch.readAnn")(SimSearch.readAnnIndex(spark, annPath))
    val ann = spans("sim.SimSearch.annTopK")(
      SimSearch.annTopKFromIndex(idx, qv, "id", "vec", k, planes = planes, dim = ic.dim))
    val fused = SimSearch.rrfFuse(Seq(bm.select("qid", "id", "rank"),
      ann.select(col("qid"), col("neighbor").as("id"), (col("rank") + 1).as("rank"))), k)
    val rows = collect(fused)
    val snap = live
    val gone = deleted
    serves += 1
    // every third serve (one per block) also re-reads its BM25 leg, to
    // hold against the in-memory scorer over the live corpus later
    var leg = Option.empty[Array[Row]]
    Outcome(
      () => Checks.first(
        Checks.serve(rows.map(_.getAs[Long]("id")).toSeq, snap, gone),
        leg.flatMap { served =>
          val want = Bm25.topK(Bm25.buildIndex(docsDf(snap.toSeq.sorted), "text", "id"), qt, "qid", "id", k)
          Checks.bm25Equal(served.map(HybridIndex.bm25Row).toSeq, want.collect().map(HybridIndex.bm25Row).toSeq)
        }),
      after = () => if (serves % 3 == 2)
        leg = Some(Bm25.topKFromIndex(spark, bm25Path, qt, "qid", "id", k).collect()))
  }

  /** A new batch is cleaned against the eval set, then its survivors are
    * appended to both indexes. */
  private def append(): Outcome = {
    val b = ic.batch(writes, nextId)
    nextId += b.docs.size
    val kept = spans("text.Pipeline.cleanCorpus")(Pipeline.cleanCorpus(textDf(b.docs), evalDf, "text", "id",
      minQuality = 0.05, maxDupRatio = 0.5))
    val ids = collect(kept.select("id")).map(_.getLong(0)).toSet
    val byId = b.docs.map(d => d.id -> d).toMap
    spans("text.Bm25.append")(Bm25.appendToBm25Index(textDf(ids.toSeq.sorted.map(byId)), "text", "id", bm25Path))
    spans("sim.SimSearch.append")(SimSearch.appendToAnnIndex(vecDf(ids.toSeq.sorted), annPath, "id", "vec"))
    live ++= ids
    landed += inputBytes(ids)
    segments += 1; writes += 1
    Outcome(() => Checks.cleaned(b, ids))
  }

  private def delete(): Outcome = {
    val ids = live.toSeq.sortBy(id => Gen.hash(seed, 0x64656cL, writes, id)).take(32)
    val df = ids.toDF("id")
    spans("text.Bm25.delete")(Bm25.deleteFromBm25Index(df, bm25Path, "id"))
    spans("sim.SimSearch.delete")(SimSearch.deleteFromAnnIndex(df, annPath))
    live --= ids
    deleted ++= ids
    segments += 1; writes += 1
    Outcome(() => None)
  }

  private def compact(): Outcome = {
    spans("text.Bm25.compact")(Bm25.compactBm25Index(spark, bm25Path, "id"))
    spans("sim.SimSearch.compact")(SimSearch.compactAnnIndex(spark, annPath))
    segments = 0
    Outcome(() => None)
  }

  override def finalCheck(): Option[String] = {
    val bmIds = Bm25.bm25IndexIds(spark, bm25Path, "id").collect().map(_.getLong(0)).toSet
    val annIds = SimSearch.readAnnIndex(spark, annPath).select("id").collect().map(_.getLong(0)).toSet
    Checks.first(
      Checks.expect(bmIds == live, s"BM25 index holds ${bmIds.size} ids, live set ${live.size}"),
      Checks.expect(annIds == live, s"ANN index holds ${annIds.size} ids, live set ${live.size}"))
  }

  override def probe(): Map[String, Double] = {
    def batches(sub: String) =
      Option(new File(bm25Path, sub).listFiles).toSeq.flatten.count(_.getName.startsWith("batch="))
    Map("index.segments" -> (batches("postings_batches") + batches("tombstones")).toDouble)
  }

  private def inputBytes(ids: Iterable[Long]): Long =
    ids.iterator.map(id => ic.doc(id).text.getBytes("UTF-8").length + 8L + 4L * ic.dim).sum

  /** Measured with no segment outstanding (a block ends compacted; a
    * failed compaction is retried here). */
  def footprint(): (Long, Long) = {
    if (segments > 0) compact()
    (inputBytes(live), Workloads.du(new File(bm25Path)) + Workloads.du(new File(annPath)))
  }
}

object HybridIndex {
  def bm25Row(r: Row): (Long, Long, Int, Long) =
    (r.getAs[Long]("qid"), r.getAs[Long]("id"), r.getAs[Int]("rank"), r.getAs[Long]("score_pico"))
}
