package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (launched by `run.py`):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --runs <dir> [--commit <sha>] [--source-digest <hex>]
  * }}}
  *
  * One client thread drives a closed loop: set up (several times, the
  * median counts), warm up, run whole blocks of the workload's op schedule
  * until `--seconds` have passed, then check every op's output. The last stdout line is the
  * result object; the whole run (context, per-op records, failures, and
  * in traced runs the spans and jobs) goes to a JSON file under `--runs`.
  */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, runs: File, commit: String, sourceDigest: String)

  final case class Failure(op: Int, kind: String, cls: String, message: String, frame: String)

  final class OpRec(val i: Int, val kind: String, val write: Boolean, val startMs: Long,
      val endMs: Long, val ns: Long, val fs: Array[Long], val probe: Map[String, Double]) {
    var failure: Option[Failure] = None
    var threw = false
    var check: () => Option[String] = () => None
    def ms: Double = ns / 1e6
  }

  final case class Phase(ops: Vector[OpRec], wallS: Double, gcMs: Long, heapPeakMb: Double,
      landedBytes: Long, writtenBytes: Long, box: Map[String, Double]) {
    def ok: Vector[OpRec] = ops.filter(_.failure.isEmpty)
    def opsPerS: Double = ops.count(!_.threw) / wallS
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument '${other.mkString(" ")}'")
    }.toMap
    def need(k: String) = m.getOrElse(k, usage(s"missing --$k"))
    val known = Set("workload", "seed", "seconds", "trace", "work", "runs", "commit", "source-digest")
    m.keys.find(!known(_)).foreach(k => usage(s"unknown option --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case v => usage(s"--trace must be 0 or 1, got $v")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      new File(need("work")), new File(need("runs")), m.getOrElse("commit", "unknown"),
      m.getOrElse("source-digest", "unknown"))
  }

  private def usage(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg\nusage: perfbench.Main --workload <name> --seed <n> " +
      "--seconds <s> --trace <0|1> --work <dir> --runs <dir> [--commit <sha>] [--source-digest <hex>]")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val context = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "git_commit" -> a.commit, "source_digest" -> a.sourceDigest,
      "nproc" -> cores, "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "java_version" -> System.getProperty("java.version"))
    a.work.mkdirs()
    probeBox(context, "start", cores, a.work)
    val t0 = System.nanoTime()
    val spark = session(a, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      context("spark_conf") = (spark.sparkContext.getConf.getAll ++ spark.conf.getAll)
        .toMap.filterNot(_._1.contains("password"))
      val out = run(spark, a, cores, sessionS)
      probeBox(context, "end", cores, a.work)
      val file = new File(a.runs, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-" +
        s"${System.currentTimeMillis()}.json")
      a.runs.mkdirs()
      Files.write(file.toPath, Json(out + ("context" -> context)).getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[perfbench] run record: ${file.getPath}")
      println(Json(Map("correct" -> out("correct"), "attempted" -> out("attempted"),
        "failed" -> out("failed"), "metrics" -> out("metrics"))))
    } finally spark.stop()
  }

  /** `graft.Bench`'s session settings with the box's core count in place
    * of its fixed 32, plus scratch directories inside the work dir. */
  def session(a: Args, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed probes of the box, at the start of a run and again (suffix
    * `_end`) at its end, so box drift shows up in the run record instead
    * of in prose:
    * `box.calib_ms`, SHA-256 over 4 MiB on one thread (median of 5);
    * `box.calib_all_ms`, the same on every core at once (median of 5), which
    * sees contention for the cores that one thread misses;
    * `box.alloc_ms`, allocating and zeroing 64 MiB of heap (at the start,
    * memory the JVM has not touched before);
    * `box.io_ms`, writing, syncing and reading back 8 MiB in the work dir. */
  def probeBox(context: mutable.Map[String, Any], at: String, cores: Int, work: File): Unit = {
    val sfx = if (at == "start") "" else s"_$at"
    def ms(f: => Any): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
    context(s"box.calib_ms$sfx") = Stats.median((0 until 5).map(_ => ms(sha4MiB())))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    context(s"box.calib_all_ms$sfx") = try Stats.median((0 until 5).map(_ =>
      ms((0 until cores).map(_ => pool.submit(() => sha4MiB())).foreach(_.get()))))
      finally pool.shutdown()
    context(s"box.alloc_ms$sfx") = ms(new Array[Long](8 << 20))
    val f = new File(work, s"box-probe-$at")
    context(s"box.io_ms$sfx") = ms {
      val ch = java.nio.channels.FileChannel.open(f.toPath, java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val buf = java.nio.ByteBuffer.wrap(calibBuf)
      try (0 until 8).foreach { _ => buf.rewind(); while (buf.hasRemaining) ch.write(buf) }
      finally { ch.force(true); ch.close() }
      Files.readAllBytes(f.toPath)
    }
    f.delete()
    context(s"load_avg_$at") = Jvm.loadAvg
  }

  private val calibBuf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)

  private def sha4MiB(): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until 4).foreach(_ => md.update(calibBuf))
    md.digest()
  }

  private def failureOf(op: Int, kind: String, e: Throwable): Failure = {
    val frame = e.getStackTrace.find(_.getClassName.startsWith("graft."))
      .orElse(e.getStackTrace.headOption).map(_.toString).getOrElse("")
    Failure(op, kind, e.getClass.getName, String.valueOf(e.getMessage), frame)
  }

  private def report(f: Failure): Unit =
    System.err.println(s"[perfbench] FAILED op ${f.op} (${f.kind}): ${f.cls}: ${f.message} at ${f.frame}")

  def run(spark: SparkSession, a: Args, cores: Int, sessionS: Double): Map[String, Any] = {
    val spans = new Spans(enabled = false)
    val w = Workloads(a.workload, spark, a.seed, spans)
    val setupS = (0 until SetupReps).map { r =>
      val dir = new File(a.work, s"setup-$r")
      // a traced run spans the last set-up's index builds
      spans.enabled = a.trace && r == SetupReps - 1
      val t = System.nanoTime()
      try w.setup(dir) finally spans.enabled = false
      val s = (System.nanoTime() - t) / 1e9
      if (r > 0) deleteTree(new File(a.work, s"setup-${r - 1}"))
      s
    }
    val failures = mutable.ArrayBuffer.empty[Failure]
    val tw = System.nanoTime()
    val warm = w.warmup().map { op =>
      try { val o = op.run(); o.after(); o.check().map(Failure(-1, op.kind, "check", _, "")) }
      catch { case NonFatal(e) => Some(failureOf(-1, op.kind, e)) }
    }
    val warmupS = (System.nanoTime() - tw) / 1e9
    warm.flatten.foreach { f => report(f); failures += f }

    val plain = phase(spark, w, a.seconds, traced = false, firstOp = 0)
    val traced = if (!a.trace) None else {
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      val p = phaseTraced(spark, w, a.seconds, plain.ops.size, listener)
      spark.sparkContext.removeSparkListener(listener)
      Some((p, listener))
    }
    val all = plain.ops ++ traced.map(_._1.ops).getOrElse(Vector.empty)
    val tc = System.nanoTime()
    // output checks run after the timed loop; a failed check fails its op
    all.foreach { r =>
      val why = try r.check() catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
      if (r.failure.isEmpty) why.foreach(m => r.failure = Some(Failure(r.i, r.kind, "check", m, "")))
    }
    val fin = try w.finalCheck() catch { case NonFatal(e) => Some(s"final check threw $e") }
    fin.foreach(m => all.lastOption.foreach(r => if (r.failure.isEmpty)
      r.failure = Some(Failure(r.i, r.kind, "check", s"final state: $m", ""))))
    all.flatMap(_.failure).foreach { f => report(f); failures += f }
    val checksS = (System.nanoTime() - tc) / 1e9

    val attempted = all.size + warm.size
    val failed = failures.size
    val reads = plain.ok.filterNot(_.write)
    val writes = plain.ok.filter(_.write)
    val setup = sessionS + Stats.median(setupS) + warmupS
    val (inputBytes, storedBytes) = w.footprint()
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> metric(setup, "s"),
      "ops_per_s" -> metric(plain.opsPerS, "1/s"),
      // a run whose reads all failed still reports how long they took
      "read_p50_ms" -> metric(Stats.median((if (reads.nonEmpty) reads else plain.ops.filterNot(_.write)).map(_.ms)), "ms"),
      "stored_bytes_per_input_byte" -> metric(storedBytes.toDouble / inputBytes, "ratio"))
    val info = mutable.LinkedHashMap[String, Any](
      "session_start_s" -> sessionS, "setup_reps_s" -> setupS, "warmup_s" -> warmupS,
      "timed_wall_s" -> plain.wallS, "checks_s" -> checksS,
      "blocks" -> plain.ops.size / w.block.size, "ops" -> plain.ops.size,
      "read_ops" -> reads.size, "write_ops" -> writes.size,
      "failed_ratio" -> failed.toDouble / attempted,
      "write_p50_ms" -> (if (writes.isEmpty) null else Stats.median(writes.map(_.ms))),
      "input_bytes" -> inputBytes, "stored_bytes" -> storedBytes,
      "landed_bytes" -> plain.landedBytes, "fs_bytes_written" -> plain.writtenBytes,
      "written_bytes_per_input_byte" ->
        (if (plain.landedBytes > 0) plain.writtenBytes.toDouble / plain.landedBytes else null))
    Stats.tail(reads.map(_.ms)).foreach { case (p, v) => info("read_tail_pct") = p; info("read_tail_ms") = v }
    // what the whole box did during the timed loop
    plain.box.foreach { case (k, v) => info(s"box.$k") = v }
    val metrics = traced match {
      case None => e2e
      case Some((p, listener)) =>
        mutable.LinkedHashMap(Layers(p, w.spans, listener, cores, plain).map { case (k, (v, u)) => k -> metric(v, u) }: _*)
    }
    for ((name, m) <- metrics) {
      val mm = m.asInstanceOf[Map[String, Any]]
      println(f"[perfbench] ${a.workload} $name = ${mm("value")} ${mm("unit")}")
    }
    Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "end_to_end" -> e2e, "info" -> info,
      "failures" -> failures.map(f => Map("op" -> f.op, "kind" -> f.kind, "class" -> f.cls,
        "message" -> f.message, "frame" -> f.frame)),
      "ops" -> all.map(r => Map("i" -> r.i, "kind" -> r.kind, "write" -> r.write, "ms" -> r.ms,
        "failed" -> r.failure.isDefined) ++ r.probe),
      "spans" -> traced.map(_ => w.spans.done.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "ms" -> (s.endNs - s.startNs) / 1e6))).getOrElse(Nil),
      "jobs" -> traced.map(_._2.snapshot.map(j => Map("id" -> j.id, "op" -> j.op, "site" -> j.site,
        "call_site" -> j.callSite,
        "ms" -> (j.endMs - j.startMs), "stages" -> j.stages, "tasks" -> j.tasks,
        "task_ms" -> j.taskMs))).getOrElse(Nil))
  }

  private def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  /** The timed closed loop: ops run back to back, in whole blocks, until
    * `seconds` have passed. */
  def phase(spark: SparkSession, w: Workload, seconds: Double, traced: Boolean,
      firstOp: Int): Phase = {
    val sc = spark.sparkContext
    val recs = mutable.ArrayBuffer.empty[OpRec]
    var excludedNs = 0L
    val gc0 = Jvm.gcMs
    val landed0 = w.landed
    val written0 = FsCalls.bytesWritten
    val box0 = Box.now()
    Jvm.resetPeak()
    val start = System.nanoTime()
    def elapsedNs = System.nanoTime() - start - excludedNs
    var i = firstOp
    while (elapsedNs < seconds * 1e9 || (i - firstOp) % w.block.size != 0) {
      val op = w.op(i)
      val p0 = System.nanoTime()
      val probe = if (traced && !op.write) w.probe() else Map.empty[String, Double]
      excludedNs += System.nanoTime() - p0
      sc.setLocalProperty(JobListener.OpKey, i.toString)
      w.spans.op = i
      val fs0 = if (traced) FsCalls.now else Array.emptyLongArray
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val out = try Right(op.run()) catch { case NonFatal(e) => Left(e) }
      val ns = System.nanoTime() - t
      val endMs = System.currentTimeMillis()
      val fs = if (traced) FsCalls.now.zip(fs0).map { case (x, y) => x - y } else fs0
      sc.setLocalProperty(JobListener.OpKey, null)
      val rec = new OpRec(i, op.kind, op.write, startMs, endMs, ns, fs, probe)
      val a0 = System.nanoTime()
      out match {
        case Left(e) => rec.threw = true; rec.failure = Some(failureOf(i, op.kind, e))
        case Right(o) =>
          rec.check = o.check
          try o.after() catch { case NonFatal(e) => rec.failure = Some(failureOf(i, op.kind, e)) }
      }
      excludedNs += System.nanoTime() - a0
      recs += rec
      i += 1
    }
    Phase(recs.toVector, elapsedNs / 1e9, Jvm.gcMs - gc0, Jvm.heapPeakMb, w.landed - landed0,
      FsCalls.bytesWritten - written0, Box.between(box0, Box.now()))
  }

  /** The traced phase: spans on, listener attached; a sentinel job after
    * the loop guarantees the listener has seen every earlier event. */
  def phaseTraced(spark: SparkSession, w: Workload, seconds: Double, firstOp: Int,
      listener: JobListener): Phase = {
    w.spans.enabled = true
    FsCalls.enabled = true
    val p = try phase(spark, w, seconds, traced = true, firstOp)
      finally { w.spans.enabled = false; FsCalls.enabled = false }
    val sc = spark.sparkContext
    sc.setLocalProperty(JobListener.OpKey, "-2")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(JobListener.OpKey, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!listener.snapshot.exists(j => j.op == -2 && j.endMs >= 0) && System.nanoTime() < deadline)
      Thread.sleep(5)
    p
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
