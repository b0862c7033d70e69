package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** Known-answer checks for the triangle-counting kernel (q227) on graphs
  * whose triangle census is a textbook fact, independent of the fixture:
  * the degree-ordered orientation must count every triangle exactly once
  * regardless of how ties and degrees fall. */
class GraphSpec extends AnyFunSuite {
  import TestSession._

  /** (edges, wedges, triangles), counted twice: under the default
    * Bloom gate (prefilter on) and with `bloomMaxEdges=0`, which takes
    * the plain semi-join. Both paths must give the same counts. */
  private def stats(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val withBloom = count(edges)
    val gate = "spark.graft.triangle.bloomMaxEdges"
    spark.conf.set(gate, "0")
    val plain = try count(edges) finally spark.conf.unset(gate)
    assert(plain === withBloom, "Bloom and plain semi-join paths disagree")
    withBloom
  }

  private def count(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    import spark.implicits._
    val e = edges.toDF("u", "v").filter(col("u") < col("v")).distinct()
    val r = graft.queries.Analytics4.triangleStats(e).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("K4: 6 edges, 12 open wedges, 4 triangles") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(stats(k4) === ((6L, 12L, 4L)))
  }

  test("path graph has zero triangles") {
    val path = (0L until 20L).map(i => (i, i + 1))
    assert(stats(path) === ((20L, 19L, 0L)))
  }

  test("cycle C5 has zero triangles; adding one chord makes exactly one") {
    val c5 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 4L))
    assert(stats(c5)._3 === 0L)
    assert(stats(c5 :+ (0L, 2L))._3 === 1L)
  }

  test("two disjoint triangles sharing no vertex count as 2") {
    val g = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L),
      (10L, 12L))
    assert(stats(g) === ((6L, 6L, 2L)))
  }

  test("star graph (hub degree n): wedges but never a triangle") {
    val star = (1L to 12L).map(i => (0L, i))
    // sum d(d-1)/2 = C(12,2) = 66 open wedges, all open
    assert(stats(star) === ((12L, 66L, 0L)))
  }
}
