package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.HudiCowLite

/** HudiStreamSinkLite contract: one commit per micro-batch with the
  * query id / batch id in extraMetadata (the Hudi-Streamer-style
  * exactly-once surface), duplicate-batch skipping, refusals (mode,
  * partitioning), and the full Hudi streaming loop (HudiStreamLite
  * source → sink → batch read) with checkpoint restart. */
class HudiSinkSpec extends AnyFunSuite {
  import TestSession._

  private val sinkFmt = "org.apache.spark.sql.graftstream.HudiStreamSinkLite"

  private def fresh(name: String): String = {
    val root = s"/tmp/graft_hudisinkspec/$name"
    graft.sources.LakeFiles.rm(new java.io.File(root))
    root
  }

  test("one commit per micro-batch; duplicate batch ids skip; " +
    "reads back through HudiCowLite") {
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
    assert(HudiCowLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
    val commits = HudiCowLite.completedCommits(spark, dest)
    assert(commits.length == 2)

    // re-deliver the last batch under the same query id: no-op
    val appId = HudiCowLite.extraMetadata(spark, dest, commits.last)
      .apply("graft.streaming.queryId")
    val sink = new org.apache.spark.sql.graftstream.HudiStreamSink(
      spark.sqlContext, dest)
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", appId)
    try sink.addBatch(1L, spark.range(100, 105).select(col("id")))
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(HudiCowLite.completedCommits(spark, dest).length == 2,
      "duplicate batch must not commit")
    assert(HudiCowLite.read(spark, dest).count() == 5)
  }

  test("full Hudi streaming loop: source -> sink -> batch read; " +
    "restart resumes without duplication") {
    val src = fresh("loop_src")
    val dest = fresh("loop_dest")
    def run(): Unit = {
      val q = spark.readStream
        .format("org.apache.spark.sql.graftstream.HudiStreamLite")
        .option("path", src).option("maxCommitsPerTrigger", "1").load()
        .writeStream.format(sinkFmt).option("path", dest)
        .option("checkpointLocation", s"$dest/_ckpt")
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    HudiStreamFixture.init(src)
    HudiStreamFixture.append(src, 1)
    run()
    import spark.implicits._
    assert(HudiCowLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
    HudiStreamFixture.append(src, 2)
    run() // restart: must consume ONLY commit 2
    assert(HudiCowLite.read(spark, dest)
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

  test("schema drift between batches refuses loudly") {
    val dest = fresh("drift")
    val sink = new org.apache.spark.sql.graftstream.HudiStreamSink(
      spark.sqlContext, dest)
    sink.addBatch(0L, spark.range(0, 3).select(col("id")))
    val e = intercept[IllegalStateException] {
      sink.addBatch(1L,
        spark.range(0, 3).select(col("id").cast("string").as("id")))
    }
    assert(e.getMessage.contains("drifts"))
  }
}
