package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built (the mains and the test suites). */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, otherwise the JVM's
    * available processors.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time and no UI, logging at WARN.
    *
    * A live active or default session is returned unchanged. The builder's
    * `getOrCreate` would instead apply its runtime confs to that session
    * (in spark-sql 4.1.2 both of its branches call
    * `applyModifiableSettings`), so a main run inside another caller's
    * session, as the CLI is in tests, would overwrite that caller's
    * settings.
    */
  def local(cpus: Int): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse {
        val s = SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
}
