package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** Bench's JSON line: failed queries are listed, never timed, and the
  * numbers stay JSON under a comma-decimal default locale. */
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
}
