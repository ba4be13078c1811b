package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** One Spark job, as the listener bus reported it. `stages` are the
  * names of its stages in event order; a stage's name is Spark's call
  * site for it (`count at Foo.scala:12`). `site` is the name of the
  * job's result stage: the call that ran the job. `start` and `end`
  * are epoch milliseconds.
  */
final case class JobRecord(id: Int, site: String, stages: Seq[String],
    description: String, tasks: Int, start: Long, end: Long)

object JobCapture {

  /** Runs `body` under a fresh job tag and returns its value with every
    * job it ran, in start order. A sentinel job after the body flushes
    * the listener bus: the bus delivers events in order, so once the
    * sentinel's end has arrived, so have the events of every body job
    * that finished before it. A body job still running then is waited
    * for; one that has not ended after 30 s throws.
    */
  def apply[T](sc: SparkContext)(body: => T): (T, Seq[JobRecord]) = {
    import scala.jdk.CollectionConverters._
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[
      SparkListenerJobStart]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
    }
    val tag = s"jobs-${System.nanoTime}"
    def prop(e: SparkListenerJobStart, key: String): String =
      Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        .getOrElse("")
    def tagged(t: String)(e: SparkListenerJobStart): Boolean =
      prop(e, "spark.job.tags").split(',').contains(t)
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      sc.addJobTag(s"$tag-end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.removeJobTag(s"$tag-end")
      def jobs = starts.asScala.filter(tagged(tag)).toSeq
      def flushed = starts.asScala.find(tagged(s"$tag-end"))
        .exists(e => ends.containsKey(e.jobId)) &&
        jobs.forall(e => ends.containsKey(e.jobId))
      val deadline = System.nanoTime + 30000000000L
      while (!flushed && System.nanoTime < deadline) Thread.sleep(20)
      val open = jobs.map(_.jobId).filterNot(ends.containsKey)
      if (open.nonEmpty) throw new IllegalStateException(
        s"jobs ${open.mkString(",")} reported no end within 30 s")
      (out, jobs.sortBy(_.jobId).map { e =>
        JobRecord(e.jobId,
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
            .getOrElse(""),
          e.stageInfos.map(_.name), prop(e, "spark.job.description"),
          e.stageInfos.map(_.numTasks).sum, e.time, ends.get(e.jobId))
      })
    } finally sc.removeSparkListener(listener)
  }
}
