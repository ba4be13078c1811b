package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round measurement harness (guide §1): run ONE query
  * (or a few) with a job listener and print the per-Spark-job wall
  * times with their call sites, so the expensive jobs inside an eager
  * lifecycle query are attributable. Usage:
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

    final case class Job(id: Int, desc: String, site: String,
        start: Long, var end: Long = -1L, var tasks: Int = 0)
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("")
          jobs += Job(e.jobId, desc, site, e.time,
            tasks = e.stageInfos.map(_.numTasks).sum)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.exists(n.startsWith))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).queryExecution.toRdd.count() // warmup
      var best = Double.MaxValue
      (1 to reps).foreach { _ =>
        jobs.synchronized(jobs.clear())
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(listener)
        best = math.min(best, sec)
        println(f"[profile] $n run: $sec%.3f s, ${jobs.size} jobs")
      }
      val snap = jobs.synchronized(jobs.toVector)
      val rows = snap.map(j =>
        (j.id, (j.end - j.start) / 1e3, j.tasks, j.site, j.desc))
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
