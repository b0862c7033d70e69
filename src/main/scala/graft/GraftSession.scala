package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is configured. Every main and the
  * shared test session start from `local` and chain only the confs they
  * alone need. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[n]` with `n` shuffle partitions, UTC, the warehouse kept out
    * of the working tree and no UI. The broadcast timeout is 30 min, not
    * 300 s: a loaded box can push a broadcast build past the default and
    * throw, and no caller wants that failure. */
  def local(n: Int = cpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$n]")
    .config("spark.sql.shuffle.partitions", n.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.broadcastTimeout", "1800")
}
