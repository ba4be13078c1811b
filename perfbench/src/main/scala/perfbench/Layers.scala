package perfbench

/** Per-layer metrics of a traced phase, each a name → (value, unit). Every
  * workload reports the same names; a layer a workload never calls reads 0.
  *
  * Spark and file-system figures are means per op of the class (`read.` or
  * `write.`), span figures are means per call, `site.<File>` figures are
  * means per op over every op, grouped by the source file of each job's
  * call site (`bench` when the benchmark's own collect started the job).
  */
object Layers {
  val sites: Seq[String] = Seq("Pipeline", "Dedup", "TextOps", "Bm25", "SimSearch", "LiveMarker",
    "PoolCommit", "Ingest", "Pool", "Relational", "PlayOps", "Tensor", "bench", "other")
  private val benchFiles = Set("Main", "Workloads", "Gen", "Layers", "Trace", "Stats")

  val spanNames: Seq[String] = Seq("catalyst.plan", "bench.collect",
    "operators.Ingest.run", "operators.PoolCommit.write", "operators.PoolCommit.read",
    "operators.Ingest.compactPool", "operators.Pool.samplePlays", "operators.Tensor.toTensor",
    "operators.PlayOps.fetchPlay", "operators.PlayOps.telemetry",
    "text.Bm25.write", "text.Bm25.topK", "text.Bm25.append", "text.Bm25.delete", "text.Bm25.compact",
    "sim.SimSearch.write", "sim.SimSearch.readAnn", "sim.SimSearch.annTopK", "sim.SimSearch.append",
    "sim.SimSearch.delete", "sim.SimSearch.compact", "text.Pipeline.cleanCorpus")

  val probes: Seq[String] = Seq("index.segments", "pool.files_per_partition")

  def siteOf(file: String): String =
    if (benchFiles(file)) "bench" else if (sites.contains(file)) file else "other"

  /** Length of the union of `[s, e]` intervals clipped to `[lo, hi]`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var run = Option.empty[(Long, Long)]
    clipped.foreach { case (s, e) =>
      run match {
        case Some((rs, re)) if s <= re => run = Some((rs, math.max(re, e)))
        case _ => run.foreach { case (rs, re) => total += re - rs }; run = Some((s, e))
      }
    }
    run.foreach { case (rs, re) => total += re - rs }
    total
  }

  def apply(p: Main.Phase, spans: Spans, listener: JobListener, cores: Int,
      plain: Main.Phase): Seq[(String, (Double, String))] = {
    val jobs = listener.snapshot.filter(_.endMs >= 0).groupBy(_.op)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val perClass = for (cls <- Seq("read", "write")) yield {
      val ops = p.ops.filter(_.write == (cls == "write"))
      def per(f: JobRec => Double): Double = mean(ops.map(o => jobs.getOrElse(o.i, Nil).map(f).sum))
      val wallMs = ops.map(o => o.endMs - o.startMs).sum.toDouble
      val taskMs = ops.map(o => jobs.getOrElse(o.i, Nil).map(_.taskMs).sum).sum.toDouble
      val gap = mean(ops.map { o =>
        val js = jobs.getOrElse(o.i, Nil)
        (o.endMs - o.startMs - covered(js.map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)).toDouble
      })
      Seq(
        s"$cls.spark.jobs" -> (per(_ => 1.0), "count"),
        s"$cls.spark.stages" -> (per(_.stages.toDouble), "count"),
        s"$cls.spark.tasks" -> (per(_.tasks.toDouble), "count"),
        s"$cls.spark.driver_gap_ms" -> (gap, "ms"),
        s"$cls.spark.task_ms" -> (per(_.taskMs.toDouble), "ms"),
        s"$cls.spark.cpu_ms" -> (per(_.cpuNs / 1e6), "ms"),
        s"$cls.spark.busy_ratio" -> (if (wallMs > 0) taskMs / (wallMs * cores) else 0.0, "ratio"),
        s"$cls.spark.scheduler_delay_ms" -> (per(_.schedDelayMs.toDouble), "ms"),
        s"$cls.spark.shuffle_write_bytes" -> (per(_.shuffleWrite.toDouble), "bytes"),
        s"$cls.spark.shuffle_read_bytes" -> (per(_.shuffleRead.toDouble), "bytes"),
        s"$cls.spark.spill_bytes" -> (per(_.spill.toDouble), "bytes"),
        s"$cls.spark.input_bytes" -> (per(_.input.toDouble), "bytes"),
        s"$cls.spark.output_bytes" -> (per(_.output.toDouble), "bytes")) ++
        FsCalls.names.zipWithIndex.map { case (n, k) =>
          s"$cls.fs.$n" -> (mean(ops.map(_.fs(k).toDouble)), if (n.startsWith("bytes")) "bytes" else "count")
        }
    }
    val opIds = p.ops.map(_.i).toSet
    val opJobs = jobs.filter { case (op, _) => opIds(op) }.values.flatten.toSeq
    val n = math.max(1, p.ops.size).toDouble
    val site = sites.flatMap { s =>
      val js = opJobs.filter(j => siteOf(j.site) == s)
      Seq(s"site.$s.jobs" -> (js.size / n, "count"), s"site.$s.task_ms" -> (js.map(_.taskMs).sum / n, "ms"))
    }
    val byName = spans.done.groupBy(_.name)
    val span = spanNames.map { s =>
      s"${s}_ms" -> (mean(byName.getOrElse(s, Nil).map(x => (x.endNs - x.startNs) / 1e6).toSeq), "ms")
    }
    val probe = probes.map(k => k -> (mean(p.ops.flatMap(_.probe.get(k))), "count"))
    val jvm = Seq("jvm.gc_ms" -> (p.gcMs / n, "ms"), "jvm.heap_peak_mb" -> (p.heapPeakMb, "MB"))
    // read p50 traced over untraced: the op mixes of the two phases differ,
    // the read op does not
    def readP50(ph: Main.Phase) = ph.ops.filter(o => !o.write && o.failure.isEmpty).map(_.ms)
    val overhead = Seq("trace.overhead_ratio" -> (
      if (readP50(p).isEmpty || readP50(plain).isEmpty) 0.0
      else Stats.median(readP50(p)) / Stats.median(readP50(plain)), "ratio"))
    perClass.flatten ++ site ++ span ++ probe ++ jvm ++ overhead
  }
}
