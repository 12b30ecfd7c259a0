package graft

import org.apache.spark.sql.SparkSession

/**
 * The one recipe for a local session outside the driver contract
 * (`Bench` and `Verify` keep their own): `local[cpus]`, one shuffle
 * partition per core, UTC, no UI and WARN logs. A caller adds what its
 * run needs on top, then calls `getOrCreate()`.
 */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS`, with Bench's default of 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")
}
