package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeFiles
import graft.sources.LakeFiles.{jstr, rm}

/** Shared append-only Hudi COW test-table authoring, used by
  * [[HudiStreamSpec]] (source) and [[HudiSinkSpec]] (loop). */
private[graft] object HudiStreamFixture {
  import TestSession.spark

  def init(root: String): Unit = {
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=t\nhoodie.table.type=COPY_ON_WRITE\n")
  }

  /** Instant k commits NEW file group b<k> holding ids
    * [5(k-1), 5(k-1)+5). Call init() first for k == 1. */
  def append(root: String, k: Int): Unit = {
    val rel = s"b${k}_0-0_$k.parquet"
    LakeFiles.Local(root).parquet(
      spark.range(5L * (k - 1), 5L * (k - 1) + 5)
        .select(col("id"), (col("id") * 2).as("v")),
      rel)
    graft.sources.AtomicFiles.write(
      Paths.get(root, ".hoodie", s"$k.commit"),
      s"""{"partitionToWriteStats":{"":[{"fileId":${jstr(s"b$k")},"path":${jstr(rel)},"numWrites":5}]}}""")
  }

  /** Instant k REWRITES group b1's base file (a copy-on-write UPDATE)
    * — must fail the stream's dropped-files gate. */
  def rewrite(root: String, k: Int): Unit = {
    val rel = s"b1_0-0_$k.parquet"
    LakeFiles.Local(root).parquet(
      spark.range(0, 5).select(col("id"), (col("id") * 9).as("v")),
      rel)
    graft.sources.AtomicFiles.write(
      Paths.get(root, ".hoodie", s"$k.commit"),
      s"""{"partitionToWriteStats":{"":[{"fileId":"b1","path":${jstr(rel)},"numWrites":5}]}}""")
  }
}

/** HudiStreamLite contract: instant offsets located by value, one
  * micro-batch per appended commit under maxCommitsPerTrigger=1, and
  * the LOUD-failure scope — a commit that rewrites a file group (COW
  * update) drops the old base file and fails the query; checkpoint
  * restart resumes exactly after the committed instant. The happy
  * path against real data is q412's DuckDB oracle. */
class HudiStreamSpec extends AnyFunSuite {
  import TestSession._
  import HudiStreamFixture.{append, rewrite}

  private val fmt = "org.apache.spark.sql.graftstream.HudiStreamLite"

  private def fixture(name: String): String = {
    val root = s"/tmp/graft_hudistreamspec/$name"
    rm(new java.io.File(root))
    HudiStreamFixture.init(root)
    root
  }

  private def stream(root: String) = spark.readStream.format(fmt)
    .option("path", root).option("maxCommitsPerTrigger", "1").load()

  test("initial snapshot, then one micro-batch per appended commit") {
    val root = fixture("batches")
    append(root, 1)
    append(root, 2)
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
      assert(batches.toList == List((0L, 0L, 9L)))
      append(root, 3)
      q.processAllAvailable()
      assert(batches.toList == List((0L, 0L, 9L), (1L, 10L, 14L)))
    } finally q.stop()
  }

  test("a commit that rewrites a file group fails loudly (update scope)") {
    val root = fixture("rewrite")
    append(root, 1)
    val q = stream(root).writeStream
      .format("memory").queryName("hs_rw_sink").start()
    try {
      q.processAllAvailable()
      rewrite(root, 2)
      val e = intercept[StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("DROPS files") ||
        Option(e.getCause).exists(_.getMessage.contains("DROPS files")))
    } finally q.stop()
  }

  test("checkpoint restart resumes after the committed instant") {
    val root = fixture("restart")
    val ckpt = s"$root/_ckpt"
    append(root, 1)
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
    assert(seen.sorted.toList == (0L to 4L).toList)
    append(root, 2)
    run()
    assert(seen.sorted.toList == (0L to 9L).toList,
      "restart must consume exactly the new commit — no loss, no replay")
  }

  test("MERGE_ON_READ table refuses to stream") {
    val root = fixture("mor")
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n")
    append(root, 1)
    val e = intercept[Exception] {
      val q = stream(root).writeStream
        .format("memory").queryName("hs_mor_sink").start()
      try q.processAllAvailable() finally q.stop()
    }
    def anyMsg(t: Throwable): String =
      Option(t.getCause).map(anyMsg).getOrElse("") +
        Option(t.getMessage).getOrElse("")
    assert(anyMsg(e).contains("MERGE_ON_READ"))
  }
}
