package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration every entry point shares
  * (Bench, Verify, QueryProfile, PlanAudit, the CLI and the test
  * suites), so the plans a tool audits or a test pins are the plans
  * the benchmark executes.
  */
object GraftSession {

  /** The local core count: `SPARK_GRAFT_CPUS`, else the caller's
    * `default`.
    */
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** A builder carrying the graft conf at `local[cpus]` (or `master`).
    * `cpus` also sets the shuffle partition count, which fixes the
    * order of float aggregations and so the result hashes.
    */
  def builder(cpus: String,
      master: Option[String] = None): SparkSession.Builder =
    SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // bucketed index trees hold up to 64 `bucket=`/`cell=` child
      // dirs; above the default threshold (32) Spark launches a
      // distributed listing JOB per read — pure scheduling overhead
      // for directory counts this small at ANY deployment scale
      // (overridable via SPARK_GRAFT_LIST_THRESHOLD)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "128"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** [[builder]]'s session (joined when one is live) at `logLevel`. */
  def apply(cpus: String, logLevel: String,
      master: Option[String] = None): SparkSession = {
    val s = builder(cpus, master).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
