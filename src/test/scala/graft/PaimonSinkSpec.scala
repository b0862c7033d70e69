package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PaimonLite
import graft.sources.LakeFiles.rm

/** PaimonStreamSinkLite contract: one snapshot per micro-batch with
  * commitUser/commitIdentifier, exactly-once duplicate-batch skipping
  * via the identifier (Paimon's own mechanism), refusals, and the
  * full Paimon streaming loop (source → sink → batch read). */
class PaimonSinkSpec extends AnyFunSuite {
  import TestSession._

  private val sinkFmt = "org.apache.spark.sql.graftstream.PaimonStreamSinkLite"

  private def fresh(name: String): String = {
    val root = s"/tmp/graft_paimonsinkspec/$name"
    rm(new java.io.File(root))
    root
  }

  test("one snapshot per micro-batch; duplicate identifiers skip; " +
    "reads back through PaimonLite") {
    val dest = fresh("commits")
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val q = mem.toDS().select(col("value").as("id"))
      .writeStream.format(sinkFmt)
      .option("path", dest)
      .option("checkpointLocation", s"$dest/_ckpt")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(0L, 1L, 2L)
      q.processAllAvailable()
      mem.addData(3L, 4L)
      q.processAllAvailable()
    } finally q.stop()
    assert(PaimonLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
    assert(PaimonLite.latestSnapshotId(spark, dest) == 2L)
    // snapshot 2 carries (queryId, batchId=1); re-delivering batch 1
    // under the same user is a no-op
    val (user, ident) = PaimonLite.commitInfo(spark, dest, 2L)
    assert(ident == 1L)
    val sink = new org.apache.spark.sql.graftstream.PaimonStreamSink(
      spark.sqlContext, dest)
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", user)
    try sink.addBatch(1L, spark.range(100, 105).select(col("id")))
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(PaimonLite.latestSnapshotId(spark, dest) == 2L,
      "duplicate batch must not commit")
    assert(PaimonLite.read(spark, dest).count() == 5)
  }

  test("full Paimon streaming loop: PaimonStreamLite source -> sink " +
    "-> batch read; restart resumes without duplication") {
    val src = fresh("loop_src")
    val dest = fresh("loop_dest")
    // author a 1-snapshot append-only source, stream, append, stream
    def run(): Unit = {
      val q = spark.readStream
        .format("org.apache.spark.sql.graftstream.PaimonStreamLite")
        .option("path", src).option("maxSnapshotsPerTrigger", "1").load()
        .writeStream.format(sinkFmt).option("path", dest)
        .option("checkpointLocation", s"$dest/_ckpt")
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    PaimonStreamFixture.init(src)
    PaimonStreamFixture.append(src, 1)
    run()
    import spark.implicits._
    assert(PaimonLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
    PaimonStreamFixture.append(src, 2)
    run() // restart: must consume ONLY snapshot 2
    assert(PaimonLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 9L))
  }

  test("non-Append mode and partitioned writes refuse loudly") {
    val dest = fresh("refusals")
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val e1 = intercept[Exception] {
      mem.toDS().groupBy().count()
        .writeStream.format(sinkFmt).option("path", dest)
        .outputMode(OutputMode.Complete()).start()
    }
    assert(e1.getMessage.contains("append-only") ||
      e1.getMessage.contains("Append"))
    val e2 = intercept[Exception] {
      mem.toDS().select(col("value"), lit("x").as("p"))
        .writeStream.format(sinkFmt).option("path", dest)
        .partitionBy("p").outputMode(OutputMode.Append()).start()
    }
    assert(e2.getMessage.contains("partitioned"))
  }
}
