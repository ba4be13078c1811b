package graft

/** Optimization-round measurement harness (guide §1): run ONE query
  * (or a few) with a job listener and print the per-Spark-job wall
  * times with their call sites (each job's result-stage name, see
  * [[JobCapture]]), so the expensive jobs inside an eager lifecycle
  * query are attributable. Usage:
  *
  *   runMain graft.QueryProfile <sfDir> <q1,q2,...> [reps]
  *
  * Each query gets one untimed warmup (JVM/codegen/footer caches) and
  * `reps` (default 1) timed runs; per-job rows are from the LAST run.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val wanted = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession(GraftSession.cpus("32"), "ERROR")

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.exists(n.startsWith))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).queryExecution.toRdd.count() // warmup
      var best = Double.MaxValue
      var jobs = Seq.empty[JobRecord]
      (1 to reps).foreach { _ =>
        val (sec, run) = JobCapture(spark.sparkContext) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
        jobs = run
        best = math.min(best, sec)
        println(f"[profile] $n run: $sec%.3f s, ${jobs.size} jobs")
      }
      val rows = jobs.map(j =>
        (j.id, (j.end - j.start) / 1e3, j.tasks, j.site, j.description))
      println(f"[profile] $n best: $best%.3f s; per-job (last run):")
      rows.sortBy(-_._2).take(40).foreach { case (id, s, t, site, d) =>
        println(f"[profile]   job=$id%4d ${s}%8.3f s tasks=$t%4d  " +
          f"$site%-40s ${d.take(80)}")
      }
      val covered = rows.map(_._2).sum
      println(f"[profile] $n sum-of-jobs: $covered%.3f s " +
        f"(gap to wall = driver/planning)")
    }
    spark.stop()
  }
}
