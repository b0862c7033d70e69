package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** MEASURED scale contracts: PlanSpec pins shapes (a broadcast here, a
  * partial agg there); this spec pins the consequence in bytes — the
  * shuffle actually shrinks relative to the scan. A plan can keep its
  * shape while a projection regression silently widens every exchange;
  * byte ratios catch that class. */
class MetricsSpec extends AnyFunSuite {
  import TestSession._

  /** Run a query and return (input bytes read, shuffle bytes written),
    * summed over its tasks. */
  private def measured(q: String): (Long, Long) = {
    val read = new AtomicLong(0L)
    val shuf = new AtomicLong(0L)
    listening(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          read.addAndGet(m.inputMetrics.bytesRead)
          shuf.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })(SparkEntry.queries(q)(spark, sf).collect())
    (read.get(), shuf.get())
  }

  test("q1 map-side partial aggregation: shuffle bytes are a tiny " +
    "fraction of scan bytes (6 groups survive the map side)") {
    val (read, shuf) = measured("q1_agg")
    assert(read > 0, "expected input bytes")
    // the exchange carries O(groups x partitions) rows — BOUNDED, and
    // below the scan even at the tiny spec fixture where per-group
    // framing overhead dominates
    assert(shuf * 2 < read,
      s"partial agg should collapse the exchange: shuffle=$shuf read=$read")
    assert(shuf < 64 * 1024,
      s"6-group partial agg output must stay bounded: shuffle=$shuf")
  }

  test("q11 star join: dims broadcast, so shuffle write stays well " +
    "below the fact scan volume") {
    val (read, shuf) = measured("q11_join_star")
    assert(read > 0)
    assert(shuf * 5 < read,
      s"broadcast star join should not re-shuffle the fact: " +
        s"shuffle=$shuf read=$read")
  }

  test("q75 minhash-LSH band join shuffles narrow keys, not documents") {
    val (read, shuf) = measured("q75_minhash_lsh")
    assert(read > 0)
    assert(shuf < read * 3,
      s"LSH shuffle must stay within a small multiple of the corpus " +
        s"scan (narrow band keys): shuffle=$shuf read=$read")
  }
}
