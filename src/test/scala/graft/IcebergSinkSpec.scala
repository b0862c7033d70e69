package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IcebergLite

/** IcebergStreamSinkLite contract: one snapshot per micro-batch with
  * the query id / batch id in the snapshot summary (the Flink-style
  * exactly-once surface), duplicate-batch skipping, refusals (mode,
  * partitioning, foreign tables), and the full Iceberg streaming loop
  * (IcebergStreamLite source → sink → batch read). */
class IcebergSinkSpec extends AnyFunSuite {
  import TestSession._

  private val sinkFmt = "org.apache.spark.sql.graftstream.IcebergStreamSinkLite"

  private def fresh(name: String): String = {
    val root = s"/tmp/graft_icesinkspec/$name"
    graft.sources.LakeFiles.rm(new java.io.File(root))
    root
  }

  test("one snapshot per micro-batch; duplicate batch ids skip; " +
    "reads back through IcebergLite") {
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
    assert(IcebergLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
    val hist = IcebergLite.snapshotIds(spark, dest)
    assert(hist.length == 2)

    // re-deliver the last batch under the same query id: no-op
    val sink = new org.apache.spark.sql.graftstream.IcebergStreamSink(
      spark.sqlContext, dest)
    val metaTxt = java.nio.file.Files.readString(java.nio.file.Paths.get(
      dest, "metadata", "v2.metadata.json"))
    val appId = """"graft-app-id":"([^"]+)"""".r
      .findFirstMatchIn(metaTxt).get.group(1)
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", appId)
    try sink.addBatch(1L, spark.range(100, 105).select(col("id")))
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(IcebergLite.snapshotIds(spark, dest).length == 2,
      "duplicate batch must not commit")
    assert(IcebergLite.read(spark, dest).count() == 5)
  }

  test("full Iceberg streaming loop: source -> sink -> batch read; " +
    "restart resumes without duplication") {
    val src = fresh("loop_src")
    val dest = fresh("loop_dest")
    def run(): Unit = {
      val q = spark.readStream
        .format("org.apache.spark.sql.graftstream.IcebergStreamLite")
        .option("path", src).option("maxSnapshotsPerTrigger", "1").load()
        .writeStream.format(sinkFmt).option("path", dest)
        .option("checkpointLocation", s"$dest/_ckpt")
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    IcebergStreamFixture.init(src)
    IcebergStreamFixture.append(src, 1)
    run()
    import spark.implicits._
    assert(IcebergLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
    IcebergStreamFixture.append(src, 2)
    run() // restart: must consume ONLY snapshot 2
    assert(IcebergLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 9L))
  }

  test("non-Append mode, partitioned writes and foreign tables refuse " +
    "loudly") {
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
    // a table this sink did not create refuses
    val foreign = fresh("foreign")
    IcebergStreamFixture.init(foreign)
    IcebergStreamFixture.append(foreign, 1)
    val sink = new org.apache.spark.sql.graftstream.IcebergStreamSink(
      spark.sqlContext, foreign)
    val e3 = intercept[IllegalStateException] {
      sink.addBatch(0L, spark.range(0, 3).select(col("id")))
    }
    assert(e3.getMessage.contains("foreign"))
  }
}
