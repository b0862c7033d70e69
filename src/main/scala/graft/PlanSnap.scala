package graft

import java.nio.file.{Files, Paths}

/** Dev-only plan snapshotter for the optimization rounds: writes the
  * `.explain("formatted")` output of each named query to
  * plans/<round>/<query>_<tag>.txt — the before/after plan evidence the
  * optimization deliverable asks for. Unlike PlanDump (which appends the
  * post-AQE plan of the whole roster into one PLANS.md), this emits one
  * file per query so a reviewer can diff `_before` vs `_after` directly.
  *
  * Usage: runMain graft.PlanSnap <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-plansnap")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // GRAFT_PLANSNAP_EXEC=1: execute the query first and snapshot the
    // POST-AQE final plan — runtime effects (exchange-stage reuse,
    // AQE join conversions, coalesced reads) are invisible in the
    // pre-execution formatted plan under AdaptiveSparkPlan.
    val exec = sys.env.get("GRAFT_PLANSNAP_EXEC").contains("1")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            // toRdd executes THIS QueryExecution (count() would plan
            // its own), so the explain below prints isFinalPlan=true
            if (exec) df.queryExecution.toRdd.count(): Unit
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
              plan.getBytes("UTF-8"))
            println(s"wrote $name")
          } catch {
            case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
          }
        case None => println(s"UNKNOWN $name")
      }
    }
    spark.stop()
  }
}
