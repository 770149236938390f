package graft

import org.apache.spark.sql.SparkSession

/** The local session graft's mains and specs run on: `cpus` cores and as
  * many shuffle partitions, UTC, graft's planner extensions, no UI.
  */
object GraftSession {
  /** The mains' core count: `SPARK_GRAFT_CPUS`, default 4. One reader,
    * so a plan dump or profile taken without the variable describes the
    * same shuffle-partition count that Bench runs.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // events.parquet carries TIMESTAMP(NANOS); read as raw long nanos
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
}
