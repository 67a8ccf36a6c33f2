package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory every in-repo `main` builds on (the
  * cluster entry points in `graft.apps` keep their deployment-
  * configured builders).
  */
object Sessions {

  /** A `local[cpus]` session with `partitions` shuffle partitions, UTC
    * session time, the UI off and WARN logging.
    */
  def local(cpus: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      // let AQE coalesce cached plans: a persisted partial frame
      // otherwise freezes the full shuffle width and every tiny
      // downstream job launches a stage of mostly-empty tasks
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[local]] with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = local(cpus, cpus)
}
