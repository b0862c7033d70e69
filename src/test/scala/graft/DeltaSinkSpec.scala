package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DeltaLogLite
import graft.sources.LakeFiles
import graft.sources.LakeFiles.{jstr, rm}

/** DeltaStreamSinkLite contract: one Delta commit per micro-batch
  * with a txn action, exactly-once duplicate-batch skipping, loud
  * refusal of non-Append modes / partitioned writes / schema drift,
  * and the full lakehouse streaming LOOP (DeltaStreamLite source →
  * sink → batch read). */
class DeltaSinkSpec extends AnyFunSuite {
  import TestSession._

  private val sinkFmt = "org.apache.spark.sql.graftstream.DeltaStreamSinkLite"
  private val srcFmt = "org.apache.spark.sql.graftstream.DeltaStreamLite"

  private def fresh(name: String): String = {
    val root = s"/tmp/graft_deltasinkspec/$name"
    rm(new java.io.File(root))
    root
  }

  test("one commit per micro-batch; duplicate batch ids skip " +
    "(exactly-once); reads back through DeltaLogLite") {
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
    val got = DeltaLogLite.read(spark, dest)
    assert(got.select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
    // two data commits (version 0 carries protocol+metaData too)
    assert(DeltaLogLite.latestVersion(spark, dest) == 1L)
    // txn versions recorded per batch — re-delivering batch 1 is a no-op
    val logs = new java.io.File(s"$dest/_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).map(_.getName).sorted
    assert(logs.length == 2)

    // simulate the engine re-delivering the last batch after a restart
    val sink = new org.apache.spark.sql.graftstream.DeltaStreamSink(
      spark.sqlContext, dest)
    val appId = {
      val txnLine = Files.readString(
        Paths.get(dest, "_delta_log", f"${1L}%020d.json"))
      """"appId":"([^"]+)"""".r.findFirstMatchIn(txnLine).get.group(1)
    }
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", appId)
    try sink.addBatch(1L, spark.range(100, 105).select(col("id")))
    finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    assert(DeltaLogLite.latestVersion(spark, dest) == 1L,
      "duplicate batch must not commit")
    assert(DeltaLogLite.read(spark, dest).count() == 5)
  }

  test("full lakehouse streaming loop: DeltaStreamLite source -> sink " +
    "-> batch read") {
    val src = fresh("loop_src")
    val dest = fresh("loop_dest")
    // author a 2-commit append-only source table
    Files.createDirectories(Paths.get(src, "_delta_log"))
    def append(v: Long): Unit = {
      LakeFiles.Local(src).parquet(
        spark.range(5 * v, 5 * v + 5).select(col("id")),
        s"b$v.parquet")
      val schema = spark.range(0, 1).select(col("id")).schema.json
      val head = if (v == 0)
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":[],"configuration":{},"createdTime":0}}
           |""".stripMargin
      else ""
      graft.sources.AtomicFiles.write(
        Paths.get(src, "_delta_log", f"$v%020d.json"),
        head + s"""{"add":{"path":"b$v.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
                  |""".stripMargin)
    }
    append(0); append(1)
    val q = spark.readStream.format(srcFmt).option("path", src)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format(sinkFmt).option("path", dest)
      .option("checkpointLocation", s"$dest/_ckpt")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      append(2)
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    assert(DeltaLogLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 14L))
    // initial-snapshot batch + one per appended commit
    assert(DeltaLogLite.latestVersion(spark, dest) == 1L)
  }

  test("checkpointInterval compacts the log: batch reads, restart " +
    "dedup and appends all survive a vacuum of pre-checkpoint JSON") {
    val dest = fresh("ckpt")
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val q = mem.toDS().select(col("value").as("id"))
      .writeStream.format(sinkFmt)
      .option("path", dest)
      .option("checkpointInterval", "2")
      .option("checkpointLocation", s"$dest/_ckpt")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(0L); q.processAllAvailable()       // version 0
      mem.addData(1L); q.processAllAvailable()       // version 1
      mem.addData(2L); q.processAllAvailable()       // version 2 + ckpt
    } finally q.stop()
    val logDir = new java.io.File(s"$dest/_delta_log")
    assert(new java.io.File(logDir,
      f"${2L}%020d.checkpoint.parquet").exists())
    assert(new java.io.File(logDir, "_last_checkpoint").exists())
    // vacuum: delete every pre-checkpoint JSON commit
    for (v <- 0L to 2L)
      assert(new java.io.File(logDir, f"$v%020d.json").delete())
    // batch read rides the checkpoint
    assert(DeltaLogLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 2L))
    // exactly-once survives: the txn history lives in the checkpoint
    val appId = {
      val ckpt = spark.read.parquet(
        s"$dest/_delta_log/" + f"${2L}%020d.checkpoint.parquet")
      ckpt.select(col("txn.appId")).where(col("txn.appId").isNotNull)
        .head().getString(0)
    }
    val sink = new org.apache.spark.sql.graftstream.DeltaStreamSink(
      spark.sqlContext, dest)
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", appId)
    try {
      sink.addBatch(2L, spark.range(100, 105).select(col("id")))
      assert(DeltaLogLite.read(spark, dest).count() == 3,
        "re-delivered batch must not commit after vacuum")
      // and NEW batches append on top of the checkpointed history
      sink.addBatch(3L, spark.range(3, 5).select(col("id")))
    } finally spark.sparkContext.setLocalProperty(
      "sql.streaming.queryId", null)
    assert(DeltaLogLite.read(spark, dest)
      .select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
    assert(DeltaLogLite.latestVersion(spark, dest) == 3L)
  }

  test("every add the sink writes, in commits and in the checkpoint, " +
    "records the file's real byte size") {
    val dest = fresh("sizes")
    val sink = new org.apache.spark.sql.graftstream.DeltaStreamSink(
      spark.sqlContext, dest, checkpointInterval = 2)
    for (b <- 0L to 2L)
      sink.addBatch(b, spark.range(b * 10, b * 10 + 7).select(col("id")))
    val logDir = new java.io.File(s"$dest/_delta_log")
    val addRe = """"add":\{"path":"([^"]+)".*?"size":(\d+)""".r
    val commitAdds = logDir.listFiles().toSeq
      .filter(_.getName.endsWith(".json"))
      .flatMap(f => addRe.findAllMatchIn(Files.readString(f.toPath)))
      .map(m => m.group(1) -> m.group(2).toLong)
    import spark.implicits._
    val ckptAdds = spark.read.parquet(
        s"$logDir/" + f"${2L}%020d.checkpoint.parquet")
      .where(col("add.path").isNotNull)
      .select(col("add.path"), col("add.size")).as[(String, Long)]
      .collect().toSeq
    assert(commitAdds.nonEmpty && ckptAdds.size == commitAdds.size,
      s"commits $commitAdds, checkpoint $ckptAdds")
    for ((path, size) <- commitAdds ++ ckptAdds)
      assert(size == new java.io.File(s"$dest/$path").length() && size > 1,
        s"$path records size $size")
  }

  test("non-Append mode, partitioned writes and schema drift refuse " +
    "loudly") {
    val dest = fresh("refusals")
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val agg = mem.toDS().groupBy().count()
    val e1 = intercept[Exception] {
      agg.writeStream.format(sinkFmt).option("path", dest)
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
    // schema drift: second writer with a different column set
    val sink = new org.apache.spark.sql.graftstream.DeltaStreamSink(
      spark.sqlContext, dest)
    sink.addBatch(0L, spark.range(0, 3).select(col("id")))
    val e3 = intercept[IllegalStateException] {
      sink.addBatch(1L,
        spark.range(0, 3).select(col("id"), (col("id") * 2).as("v")))
    }
    assert(e3.getMessage.contains("drifts"))
  }

}
