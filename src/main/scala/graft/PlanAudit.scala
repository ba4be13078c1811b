package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump the formatted physical plan of every SparkEntry query so
  * the scan/pushdown/join/shuffle shape can be audited (PushedFilters,
  * ReadSchema column pruning, BroadcastHashJoin vs SortMergeJoin,
  * Exchange count, WholeStageCodegen spans). Findings live in SCALE.md.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = GraftSession(GraftSession.cpus("4"), "ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // q26 writes temp dirs; plan-only is still fine
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        sb.append(s"==== $name ====\n").append(plan).append("\n")
      } catch {
        case e: Throwable =>
          sb.append(s"==== $name ==== FAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"plans written to $out")
    spark.stop()
  }
}
