package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration shared by the mains (Bench, Verify,
  * PlanDump) and the test fixtures, so a plan dumped, verified or tested
  * is the plan the bench runs. */
object GraftSession {

  /** Core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI. Wide
    * plans (pivot/rollup outputs) stay inside whole-stage codegen
    * (default maxFields=100). Callers add their own conf and log level. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "256")
}
