package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One shared local session across all suites (forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` under a fresh job group; returns its value and the
    * stage names of each job it started. A sentinel job flushes the
    * listener bus, which delivers job starts in order.
    */
  def jobsOf[T](body: => T): (T, Seq[Seq[String]]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[
      SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(e)
    }
    def group(e: SparkListenerJobStart): String =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .orNull
    val g = s"jobs-${System.nanoTime}"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(g, "under test")
      val out = body
      sc.setJobGroup(s"$g-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 30000000000L
      while (!starts.asScala.exists(e => group(e) == s"$g-end") &&
          System.nanoTime < deadline) Thread.sleep(20)
      (out, starts.asScala.filter(e => group(e) == g)
        .map(_.stageInfos.map(_.name)).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
