package graft

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + generic assertions every declared query must satisfy.
  * Deep value checks run via scripts/check.py (DuckDB oracle replica). */
object TestSession {
  lazy val spark: SparkSession = {
    // local(4): every plan golden pins `…, 4)` partitioning
    val s = GraftSession.local(4)
      // force UnsafeExternalSorter to spill past 64k elements so specs
      // can exercise spill-reader row reuse (AsOfJoinSpec); test-scale
      // sorts stay under it except where a spec overshoots on purpose
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "65536")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` with `l` on the listener bus and returns its result.
    * Events are posted asynchronously, so the bus is drained before `l`
    * is added (no earlier job reaches it) and after `body` (every event
    * of `body` has). */
  def listening[T](l: SparkListener)(body: => T): T = {
    drainListenerBus()
    spark.sparkContext.addSparkListener(l)
    try { val r = body; drainListenerBus(); r }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    // SparkContext.listenerBus is private[spark], public in bytecode
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }

  val sf = "/root/testdata/sf0.001"
}

class QueriesSpec extends AnyFunSuite {
  import TestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and returns rows at sf0.001") {
    val empties = SparkEntry.queries.flatMap { case (name, fn) =>
      // one retry per query (mirrors Verify, r21): the queries are
      // deterministic, so a second attempt only changes the outcome
      // when the first failure was transient (loaded-box timeout,
      // fetch failure) — a genuinely broken query still fails twice
      // and the ORIGINAL exception is what surfaces
      val n =
        try fn(spark, sf).count()
        catch { case e1: Throwable =>
          System.err.println(
            s"[QueriesSpec] $name failed once, retrying: ${e1.getMessage}")
          try fn(spark, sf).count()
          catch { case _: Throwable => throw e1 }
        }
      if (n == 0) Some(name) else None
    }
    assert(empties.isEmpty, s"queries with 0 rows: $empties")
  }

  test("every oracle key has a query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("q1_agg filter is pushed to the parquet scan") {
    val plan = SparkEntry.queries("q1_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"expected pushed filter in plan:\n$plan")
  }

  test("q2 prunes columns at the scan") {
    val plan = SparkEntry.queries("q2_filter_project")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("l_extendedprice"),
      "scan should not read unprojected columns")
  }

  test("q3 topk plans TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("q3_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("NOT IN three-valued semantics (q207's contract): one NULL in " +
    "the subquery annihilates every probe row") {
    Tables.registerAll(spark, sf)
    // same shape as q207 but the subquery projects a NULL-poisoned key:
    // x NOT IN (S ∪ {NULL}) is never TRUE, so the count must be zero
    val n = spark.sql(
      """SELECT count(*) AS n FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT CASE WHEN o_totalprice > 400000.0 THEN NULL
        |              ELSE o_custkey END
        |  FROM orders WHERE o_totalprice > 150000.0)""".stripMargin)
      .collect().head.getLong(0)
    assert(n == 0L, s"NULL in the NOT IN set must annihilate all rows, got $n")
    // sanity: the un-poisoned set is non-empty (q207's oracle row)
    val m = SparkEntry.queries("q207_not_in_nullaware")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_inactive")).collect()
      .head.getLong(0)
    assert(m > 0L)
  }
}
