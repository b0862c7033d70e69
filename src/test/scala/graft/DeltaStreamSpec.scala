package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DeltaLogLite
import graft.sources.LakeFiles
import graft.sources.LakeFiles.{jstr, rm}

/** DeltaStreamLite contract: version-grain offsets, per-commit
  * micro-batches under maxVersionsPerTrigger=1, checkpoint restart
  * resuming exactly after the committed version (SerializedOffset
  * path), and the LOUD-failure scope — a remove or schema change
  * mid-stream fails the query instead of streaming wrong rows. The
  * happy path against real data is q400's DuckDB oracle. */
class DeltaStreamSpec extends AnyFunSuite {
  import TestSession._

  private val fmt = "org.apache.spark.sql.graftstream.DeltaStreamLite"

  /** Fresh unpartitioned table root; commits appended via append(). */
  private def fixture(name: String): (String, String) = {
    val root = s"/tmp/graft_deltastreamspec/$name"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val schema = spark.range(0, 1)
      .select(col("id"), (col("id") * 2).as("v")).schema.json
    (root, schema)
  }

  /** Commit `v` adds ids [5v, 5v+5) as b<v>.parquet. */
  private def append(root: String, schema: String, v: Long): Unit = {
    LakeFiles.Local(root).parquet(
      spark.range(5 * v, 5 * v + 5).select(col("id"), (col("id") * 2).as("v")),
      s"b$v.parquet")
    val head = if (v == 0)
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":[],"configuration":{},"createdTime":0}}
         |""".stripMargin
    else ""
    graft.sources.AtomicFiles.write(
      Paths.get(root, "_delta_log", f"$v%020d.json"),
      head + s"""{"add":{"path":"b$v.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
                |""".stripMargin)
  }

  private def stream(root: String) = spark.readStream.format(fmt)
    .option("path", root).option("maxVersionsPerTrigger", "1").load()

  test("initial snapshot, then one micro-batch per appended commit") {
    val (root, schema) = fixture("batches")
    append(root, schema, 0)
    append(root, schema, 1)
    val batches = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = stream(root).writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        val ids = df.select(min(col("id")), max(col("id"))).head()
        batches.synchronized {
          batches += ((id, ids.getLong(0), ids.getLong(1))): Unit
        }
      }.start()
    try {
      q.processAllAvailable()
      // first batch = the INITIAL SNAPSHOT: both existing commits
      assert(batches.toList == List((0L, 0L, 9L)))
      append(root, schema, 2)
      append(root, schema, 3)
      q.processAllAvailable()
      // rate limit: one VERSION per micro-batch, in order
      assert(batches.toList == List((0L, 0L, 9L), (1L, 10L, 14L),
        (2L, 15L, 19L)))
    } finally q.stop()
  }

  test("checkpoint restart resumes after the committed version " +
    "(no replay, no gap)") {
    val (root, schema) = fixture("restart")
    val ckpt = s"$root/_ckpt"
    append(root, schema, 0)
    append(root, schema, 1)
    val seen = mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = stream(root).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val ids = df.select(col("id")).collect().map(_.getLong(0))
          seen.synchronized { seen ++= ids: Unit }
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(seen.sorted.toList == (0L to 9L).toList)
    append(root, schema, 2)
    run() // restarts from the checkpointed version-1 offset
    assert(seen.sorted.toList == (0L to 14L).toList,
      "restart must consume exactly the new commit — no loss, no replay")
  }

  test("startingVersion begins at the named version, not the snapshot") {
    val (root, schema) = fixture("startver")
    append(root, schema, 0)
    append(root, schema, 1)
    append(root, schema, 2)
    val seen = mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format(fmt)
      .option("path", root)
      .option("startingVersion", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val ids = df.select(col("id")).collect().map(_.getLong(0))
        seen.synchronized { seen ++= ids: Unit }
      }.start()
    try {
      q.processAllAvailable()
      // versions 1..2 only — commit 0's rows are never replayed
      assert(seen.sorted.toList == (5L to 14L).toList)
      append(root, schema, 3)
      q.processAllAvailable()
      assert(seen.sorted.toList == (5L to 19L).toList)
    } finally q.stop()
  }

  test("a compaction mid-stream is skipped — no wedge, no duplicate " +
    "rows; a dataChange remove still fails loudly") {
    import spark.implicits._
    val (root, schema) = fixture("compactskip")
    append(root, schema, 0)
    spark.catalog.dropTempView("ds_cskip_sink"): Unit
    val q = stream(root).writeStream.outputMode("append")
      .format("memory").queryName("ds_cskip_sink").start()
    try {
      q.processAllAvailable()
      // commit 1: OPTIMIZE — dataChange=false remove+add of b0's swap
      DeltaLogLite.compact(spark, root): Unit
      q.processAllAvailable()
      append(root, schema, 2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ds_cskip_sink")
      .select(col("id")).as[Long].collect().sorted.toSeq
    // b0's rows once (initial snapshot), b2's rows once — the
    // compaction's re-listed file never re-emits
    assert(got == (0L to 4L) ++ (10L to 14L))
  }

  test("remove mid-stream fails loudly (append-only scope)") {
    val (root, schema) = fixture("remove")
    append(root, schema, 0)
    val q = stream(root).writeStream
      .format("memory").queryName("ds_remove_sink").start()
    try {
      q.processAllAvailable()
      Files.writeString(Paths.get(root, "_delta_log", f"${1L}%020d.json"),
        """{"remove":{"path":"b0.parquet","deletionTimestamp":0,"dataChange":true}}
          |""".stripMargin)
      val e = intercept[StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("append-only") ||
        Option(e.getCause).exists(_.getMessage.contains("append-only")))
    } finally q.stop()
  }

  test("readChangeFeed streams change rows: snapshot as inserts, a " +
    "blind append as inserts, a remove as deletes; a CDF-less table " +
    "refuses") {
    import spark.implicits._
    val (root, schema) = fixture("cdf")
    // commit 0 with CDF enabled (the plain append() writes no config)
    LakeFiles.Local(root).parquet(
      spark.range(0, 5).select(col("id"), (col("id") * 2).as("v")),
      "b0.parquet")
    graft.sources.AtomicFiles.write(
      Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}
         |{"add":{"path":"b0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
         |""".stripMargin)
    spark.catalog.dropTempView("ds_cdf_sink"): Unit
    val q = spark.readStream.format(fmt)
      .option("path", root).option("maxVersionsPerTrigger", "1")
      .option("readChangeFeed", "true").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("ds_cdf_sink").start()
    try {
      q.processAllAvailable()
      append(root, schema, 1)
      q.processAllAvailable()
      Files.writeString(Paths.get(root, "_delta_log", f"${2L}%020d.json"),
        """{"remove":{"path":"b1.parquet","deletionTimestamp":0,"dataChange":true}}
          |""".stripMargin)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ds_cdf_sink")
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got == ((0L to 4L).map(i => (i, "insert", 0L)) ++
      (5L to 9L).map(i => (i, "insert", 1L)) ++
      (5L to 9L).map(i => (i, "delete", 2L))).sorted)
    // a table without delta.enableChangeDataFeed refuses the mode
    val (root2, schema2) = fixture("cdfoff")
    append(root2, schema2, 0)
    val q2 = spark.readStream.format(fmt)
      .option("path", root2).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("ds_cdfoff_sink").start()
    val e = intercept[StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("enableChangeDataFeed")))
  }

  test("schema change mid-stream fails loudly") {
    val (root, schema) = fixture("schemachange")
    append(root, schema, 0)
    val q = stream(root).writeStream
      .format("memory").queryName("ds_schema_sink").start()
    try {
      q.processAllAvailable()
      val schema2 = spark.range(0, 1).select(col("id")).schema.json
      Files.writeString(Paths.get(root, "_delta_log", f"${1L}%020d.json"),
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema2)},"partitionColumns":[],"configuration":{},"createdTime":0}}
           |""".stripMargin)
      val e = intercept[StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("schema changed mid-stream") ||
        Option(e.getCause).exists(
          _.getMessage.contains("schema changed mid-stream")))
    } finally q.stop()
  }
}
