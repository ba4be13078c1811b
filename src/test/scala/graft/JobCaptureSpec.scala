package graft

/** [[JobCapture]] records every job a body runs, each with its end
  * after its start and its call site.
  */
class JobCaptureSpec extends SparkSpec {

  test("every job of a repeated three-job body is recorded, with " +
    "end >= start and its result-stage name") {
    val sc = spark.sparkContext
    (1 to 20).foreach { i =>
      val (sum, jobs) = JobCapture(sc) {
        val rdd = sc.parallelize(1 to 100, 4)
        rdd.count() + rdd.map(_ % 7).distinct().count() +
          rdd.filter(_ > i).count()
      }
      assert(sum == 100 + 7 + (100 - i))
      assert(jobs.size == 3, jobs)
      assert(jobs.map(_.id) == jobs.map(_.id).sorted)
      jobs.foreach { j =>
        assert(j.end >= j.start, j)
        assert(j.site.nonEmpty && j.stages.forall(_.nonEmpty), j)
        assert(j.site.contains("JobCaptureSpec.scala"), j)
      }
    }
  }
}
