package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graftstream.IcebergStreamSource

import graft.sources.LakeFiles
import graft.sources.LakeFiles.{jstr, rm}

/** Shared append-only Iceberg test-table authoring, used by
  * [[IcebergStreamSpec]] (source) and [[IcebergSinkSpec]] (loop). */
private[graft] object IcebergStreamFixture {
  import TestSession.spark

  def init(root: String): Unit = {
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
  }

  /** Snapshot k adds data/bk.parquet (ids [5(k-1), 5(k-1)+5)); its
    * manifest list covers manifests 1..k (cumulative, append-only).
    * Call init() first for k == 1. */
  def append(root: String, k: Int,
             manifests: Option[Seq[Int]] = None): Unit = {
    import spark.implicits._
    val lake = LakeFiles.Local(root)
    lake.parquet(
      graft.sources.IcebergLite.stampFieldIds(
        spark.range(5L * (k - 1), 5L * (k - 1) + 5)
          .select(col("id"), (col("id") * 2).as("v")),
        Map("id" -> 1, "v" -> 2)),
      s"data/b$k.parquet")
    lake.avro(Seq((1, s"data/b$k.parquet")).toDF("status", "file_path")
        .select(col("status"),
          struct(col("file_path"), lit(0).as("content")).as("data_file")),
      s"metadata/m$k.avro")
    lake.avro(manifests.getOrElse(1 to k).map(i => (s"metadata/m$i.avro", 0))
        .toDF("manifest_path", "content"), s"metadata/snap-$k.avro")
    val snaps = (1 to k).map(i =>
      s"""{"snapshot-id":$i,"manifest-list":${jstr(s"metadata/snap-$i.avro")}}""")
      .mkString("[", ",", "]")
    graft.sources.AtomicFiles.write(
      Paths.get(root, "metadata", s"v$k.metadata.json"),
      s"""{"format-version":2,"location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"long"}]}],
         |"current-snapshot-id":$k,
         |"snapshots":$snaps}""".stripMargin)
    graft.sources.AtomicFiles.write(
      Paths.get(root, "metadata", "version-hint.text"), k.toString)
  }
}

/** IcebergStreamLite contract: snapshot-position offsets, one
  * micro-batch per appended snapshot under maxSnapshotsPerTrigger=1,
  * and the LOUD-failure scope — a snapshot that drops files
  * (overwrite) or whose position fell out of the history fails the
  * query. The happy path against real data is q401's DuckDB oracle. */
class IcebergStreamSpec extends AnyFunSuite {
  import TestSession._
  import IcebergStreamFixture.append

  private val fmt = "org.apache.spark.sql.graftstream.IcebergStreamLite"

  private def fixture(name: String): String = {
    val root = s"/tmp/graft_icestreamspec/$name"
    rm(new java.io.File(root))
    IcebergStreamFixture.init(root)
    root
  }

  private def stream(root: String) = spark.readStream.format(fmt)
    .option("path", root).option("maxSnapshotsPerTrigger", "1").load()

  test("initial snapshot, then one micro-batch per appended snapshot") {
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

  test("skipOverwriteSnapshots rides across a compaction: the replace " +
    "snapshot emits nothing, later appends emit exactly once; the " +
    "default mode still refuses the drop") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = fixture("skipreplace")
    append(root, 1)
    append(root, 2)
    spark.catalog.dropTempView("is_skip_sink"): Unit
    val q = spark.readStream.format(fmt)
      .option("path", root).option("maxSnapshotsPerTrigger", "1")
      .option("skipOverwriteSnapshots", "true").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("is_skip_sink").start()
    try {
      q.processAllAvailable() // initial: snapshots 1+2 (ids 0..9)
      // snapshot 3: REWRITE-DATA-FILES (summary.operation=replace)
      graft.sources.IcebergLite.compact(spark, root): Unit
      q.processAllAvailable() // skipped — no wedge, no duplicates
      // snapshot 4: a plain append on TOP of the compacted state
      val lake = LakeFiles.Local(root)
      lake.parquet(
        graft.sources.IcebergLite.stampFieldIds(
          spark.range(20, 25).select(col("id"), (col("id") * 2).as("v")),
          Map("id" -> 1, "v" -> 2)),
        "data/b4.parquet")
      lake.avro(Seq((1, "data/b4.parquet")).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(0).as("content"))
              .as("data_file")), "metadata/m4.avro")
      lake.avro(Seq(("metadata/m-compact-3.avro", 0), ("metadata/m4.avro", 0))
          .toDF("manifest_path", "content"), "metadata/snap-4.avro")
      implicit val fmts: Formats = DefaultFormats
      val v3 = JsonMethods.parse(Files.readString(
        Paths.get(root, "metadata", "v3.metadata.json")))
      val v4 = v3 transformField {
        case ("snapshots", JArray(ss)) => ("snapshots", JArray(ss :+
          JObject("snapshot-id" -> JInt(4),
            "manifest-list" -> JString("metadata/snap-4.avro"),
            "summary" -> JObject("operation" -> JString("append")))))
        case ("current-snapshot-id", _) => ("current-snapshot-id", JInt(4))
      }
      // ATOMIC publishes — the stream's poll thread reads these
      // concurrently; a plain writeString can expose a truncated hint
      // (one full-suite flake read an EMPTY hint → "v.metadata.json")
      graft.sources.AtomicFiles.write(
        Paths.get(root, "metadata", "v4.metadata.json"),
        JsonMethods.compact(JsonMethods.render(v4)))
      graft.sources.AtomicFiles.write(
        Paths.get(root, "metadata", "version-hint.text"), "4")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("is_skip_sink")
      .select(col("id")).as[Long].collect().sorted.toSeq
    assert(got == (0L to 9L) ++ (20L to 24L), s"got $got")
    // without the option the same range refuses loudly
    val q2 = stream(root).writeStream
      .format("memory").queryName("is_noskip_sink").start()
    // a fresh stream's initial batch is the full current snapshot —
    // fine; the refusal needs a replace INSIDE a consumed range, so
    // drive getBatch directly over (2, 3]
    q2.stop()
    val src = new IcebergStreamSource(spark, root, None)
    val e = intercept[IllegalStateException] {
      src.getBatch(
        Some(org.apache.spark.sql.execution.streaming.runtime
          .LongOffset(2L)),
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(3L))
        .collect()
    }
    assert(e.getMessage.contains("DROPS"))
  }

  test("a snapshot that DROPS files fails loudly (overwrite scope)") {
    val root = fixture("drop")
    append(root, 1)
    val q = stream(root).writeStream
      .format("memory").queryName("is_drop_sink").start()
    try {
      q.processAllAvailable()
      // snapshot 2 lists ONLY its own manifest — b1.parquet vanishes
      append(root, 2, manifests = Some(Seq(2)))
      val e = intercept[StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("DROPS files") ||
        Option(e.getCause).exists(_.getMessage.contains("DROPS files")))
    } finally q.stop()
  }

  test("checkpoint restart resumes after the committed position") {
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
      "restart must consume exactly the new snapshot — no loss, no replay")
  }
}
