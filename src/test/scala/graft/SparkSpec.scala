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

  /** Runs `body` and returns its value and the stage names of each job
    * it started, in start order (see [[JobCapture]]).
    */
  def jobsOf[T](body: => T): (T, Seq[Seq[String]]) = {
    val (out, jobs) = JobCapture(spark.sparkContext)(body)
    (out, jobs.map(_.stages))
  }
}
