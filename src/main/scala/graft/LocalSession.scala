package graft

import org.apache.spark.sql.SparkSession

/** Local-mode sessions for the repo's mains (Verify, Bench, ScaleGen)
  * and the test fixture: [[GraftSession.builder]] on `local[cores]`
  * with the web UI off.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the available processors capped at 32. */
  def cpus: Int = sys.env
    .get("SPARK_GRAFT_CPUS")
    .map(_.toInt)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  def builder(cores: Int, shufflePartitions: Int): SparkSession.Builder =
    GraftSession
      .builder(shufflePartitions)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
}
