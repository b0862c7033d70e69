package graft

import java.nio.file.{Files, Paths}

/** Dev-only plan snapshotter for the optimization rounds: writes the
  * `.explain("formatted")` output of each named query to
  * plans/<round>/<query>_<tag>.txt — the before/after plan evidence the
  * optimization deliverable asks for, one file per query so `_before`
  * and `_after` diff directly. With GRAFT_PLANSNAP_EXEC=1
  * it writes the executed (post-AQE) plans, as PLANS.md holds them.
  *
  * Usage: runMain graft.PlanSnap <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(",").toSeq
    val spark = GraftSession.local().getOrCreate()
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
