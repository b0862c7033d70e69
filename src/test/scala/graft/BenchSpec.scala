package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** Bench's JSON line: failed queries are listed, never timed, and the
  * numbers stay JSON under a comma-decimal default locale; and its
  * roster: the headline set, or SPARK_GRAFT_ONLY's exact names. */
class BenchSpec extends AnyFunSuite {

  test("failed queries go to \"failed\", out of queries and total; " +
    "numbers format under Locale.ROOT") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val line =
      try {
        // the default locale really does write a decimal comma
        assert("%.3f".format(1.5) == "1,500")
        Bench.jsonLine(Seq("q1_agg" -> 1.5, "q10_join_inner" -> 0.25),
          Seq("q406_iceberg_eq_delete"), "/data/sf0.1")
      } finally Locale.setDefault(saved)
    assert(line == "{\"metric\":\"total\",\"value\":1.750," +
      "\"unit\":\"sec\",\"queries\":{\"q1_agg\":1.500," +
      "\"q10_join_inner\":0.250},\"failed\":[\"q406_iceberg_eq_delete\"]," +
      "\"sf\":\"/data/sf0.1\"}", line)
    assert(Bench.jsonLine(Nil, Nil, "a\"b") ==
      "{\"metric\":\"total\",\"value\":0.000,\"unit\":\"sec\"," +
        "\"queries\":{},\"failed\":[],\"sf\":\"a\\\"b\"}")
  }

  test("roster: unset is the headline set; a name list keeps its order " +
    "and may name any query") {
    assert(Bench.roster(None) == Bench.headline)
    val only = Bench.roster(Some("q406_iceberg_eq_delete,q2_filter_project"))
    assert(only == Seq("q406_iceberg_eq_delete", "q2_filter_project"))
    assert(!Bench.headline.contains("q2_filter_project"))
    assert(only.forall(SparkEntry.queries.contains))
  }

  test("a name that matches no query is listed under \"failed\", out of " +
    "queries and total") {
    val line = Bench.run(TestSession.spark, TestSession.sf,
      Bench.roster(Some("no_such_query,q2_filter_project")))
    // the total is q2's time alone, and q2 is the only timed query
    val timed = ("\\{\"metric\":\"total\",\"value\":([0-9.]+)," +
      "\"unit\":\"sec\",\"queries\":\\{\"q2_filter_project\":([0-9.]+)\\},")
      .r.findPrefixMatchOf(line)
    assert(timed.exists(m => m.group(1) == m.group(2)), line)
    assert(line.endsWith(",\"failed\":[\"no_such_query\"]," +
      s"\"sf\":\"${TestSession.sf}\"}"), line)
  }
}
