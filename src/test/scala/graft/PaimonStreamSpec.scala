package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeFiles
import graft.sources.LakeFiles.rm

/** Shared append-only Paimon test-table authoring, used by
  * [[PaimonStreamSpec]] (source) and [[PaimonSinkSpec]] (loop). */
private[graft] object PaimonStreamFixture {
  import TestSession.spark

  /** Lay out an empty table (dirs + schema-0) at `root`. */
  def init(root: String): Unit = {
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"id","type":"BIGINT"},
        | {"id":1,"name":"v","type":"BIGINT"}],
        |"highestFieldId":1,"partitionKeys":[],"primaryKeys":[],
        |"options":{}}""".stripMargin)
  }

  /** Snapshot k: base = m1..m(k-1), delta adds fk.parquet
    * (ids [5(k-1), 5(k-1)+5)); `deltaKind` lets a test author a
    * DELETE entry instead. Call init() first for k == 1. */
  def append(root: String, k: Int, deltaKind: Int = 0): Unit = {
    import spark.implicits._
    val lake = LakeFiles.Local(root)
    lake.parquet(
      spark.range(5L * (k - 1), 5L * (k - 1) + 5)
        .select(col("id"), (col("id") * 2).as("v")),
      s"bucket-0/f$k.parquet")
    lake.avro(Seq((deltaKind, s"f$k.parquet")).toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      s"manifest/m$k.avro")
    def mlist(rel: String, names: Seq[String]): Unit =
      lake.avro(if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else names.toDF("_FILE_NAME"), rel)
    mlist(s"manifest/ml-base-$k.avro", (1 until k).map(i => s"m$i.avro"))
    mlist(s"manifest/ml-delta-$k.avro", Seq(s"m$k.avro"))
    graft.sources.AtomicFiles.write(
      Paths.get(root, "snapshot", s"snapshot-$k"),
      s"""{"version":3,"id":$k,"schemaId":0,
         |"baseManifestList":"ml-base-$k.avro",
         |"deltaManifestList":"ml-delta-$k.avro",
         |"commitKind":"APPEND","commitUser":"t","commitIdentifier":$k,
         |"timeMillis":0}""".stripMargin)
    graft.sources.AtomicFiles.write(
      Paths.get(root, "snapshot", "LATEST"), k.toString)
  }
}

/** PaimonStreamLite contract: contiguous snapshot-id offsets, one
  * micro-batch per snapshot's delta under maxSnapshotsPerTrigger=1,
  * checkpoint restart, and the LOUD-failure scope — a DELETE entry in
  * a consumed delta (compaction/overwrite) fails the query. The happy
  * path against real data is q402's DuckDB oracle. */
class PaimonStreamSpec extends AnyFunSuite {
  import TestSession._
  import PaimonStreamFixture.append

  private val fmt = "org.apache.spark.sql.graftstream.PaimonStreamLite"

  private def fixture(name: String): String = {
    val root = s"/tmp/graft_paimonstreamspec/$name"
    rm(new java.io.File(root))
    PaimonStreamFixture.init(root)
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

  test("checkpoint restart resumes after the committed snapshot id") {
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

  test("partitioned table streams with typed partition columns " +
    "attached from the BinaryRow decode") {
    import graft.sources.BinaryRowCodec
    import org.apache.spark.sql.types.StringType
    import spark.implicits._
    val root = fixture("partstream")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"id","type":"BIGINT"},
        | {"id":1,"name":"v","type":"BIGINT"},
        | {"id":2,"name":"p","type":"STRING"}],
        |"highestFieldId":2,"partitionKeys":["p"],"primaryKeys":[],
        |"options":{}}""".stripMargin)
    val lake = LakeFiles.Local(root)
    def appendPart(k: Int, pVal: String): Unit = {
      Files.createDirectories(Paths.get(root, s"p=$pVal", "bucket-0"))
      lake.parquet(
        spark.range(5L * (k - 1), 5L * (k - 1) + 5)
          .select(col("id"), (col("id") * 2).as("v")),
        s"p=$pVal/bucket-0/f$k.parquet")
      lake.avro(Seq((0, s"f$k.parquet",
        BinaryRowCodec.encode(Seq(pVal), Seq(StringType))))
        .toDF("_KIND", "_fn", "_PARTITION")
        .select(col("_KIND"), col("_PARTITION"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
        s"manifest/m$k.avro")
      def mlist(rel: String, names: Seq[String]): Unit =
        lake.avro(
          if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
          else names.toDF("_FILE_NAME"), rel)
      mlist(s"manifest/ml-base-$k.avro", (1 until k).map(i => s"m$i.avro"))
      mlist(s"manifest/ml-delta-$k.avro", Seq(s"m$k.avro"))
      graft.sources.AtomicFiles.write(
        Paths.get(root, "snapshot", s"snapshot-$k"),
        s"""{"version":3,"id":$k,"schemaId":0,
           |"baseManifestList":"ml-base-$k.avro",
           |"deltaManifestList":"ml-delta-$k.avro",
           |"commitKind":"APPEND","commitUser":"t","commitIdentifier":$k,
           |"timeMillis":0}""".stripMargin)
      graft.sources.AtomicFiles.write(
        Paths.get(root, "snapshot", "LATEST"), k.toString)
    }
    appendPart(1, "a")
    val batches = mutable.ArrayBuffer.empty[Seq[(Long, String)]]
    val q = stream(root).writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val rows = df.select(col("id"), col("p"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        batches.synchronized { batches += rows.sorted: Unit }
      }.start()
    try {
      q.processAllAvailable()
      assert(batches.toList == List((0L to 4L).map(i => (i, "a"))))
      appendPart(2, "b")
      q.processAllAvailable()
      assert(batches.toList.map(_.toList) == List(
        (0L to 4L).map(i => (i, "a")).toList,
        (5L to 9L).map(i => (i, "b")).toList))
    } finally q.stop()
  }

  test("readChangelog streams a PK table: merged snapshot as '+I', " +
    "then each published changelog; append mode still refuses PK " +
    "tables, pointing at the option") {
    import spark.implicits._
    val root = "/tmp/graft_paimonstreamspec/cl"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"id","type":"BIGINT"},
        | {"id":1,"name":"v","type":"BIGINT"}],
        |"highestFieldId":1,"partitionKeys":[],"primaryKeys":["id"],
        |"options":{"changelog-producer":"input"}}""".stripMargin)
    def writeKv(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      LakeFiles.Local(root).parquet(df, s"bucket-0/$name")
    def kv(df: org.apache.spark.sql.DataFrame, seq: Long,
           kind: Int): org.apache.spark.sql.DataFrame =
      df.select(col("id").as("_KEY_id"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(kind).cast("tinyint").as("_VALUE_KIND"),
        col("id"), col("v"))
    val base = spark.range(0, 5).select(col("id"), (col("id") * 2).as("v"))
    writeKv(kv(base, 1L, 0), "kv1.parquet")
    val ups = kv(base.filter(col("id").isin(1, 2))
      .withColumn("v", col("id") * 20), 2L, 2)
      .unionByName(kv(base.filter(col("id") === 0), 2L, 3))
    writeKv(ups, "kv2.parquet")
    writeKv(ups, "changelog-2.parquet")
    val lake = LakeFiles.Local(root)
    def manifest(rel: String, fn: String): Unit =
      lake.avro(Seq((0, fn)).toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
    manifest("manifest/m1.avro", "kv1.parquet")
    manifest("manifest/m2.avro", "kv2.parquet")
    manifest("manifest/mcl.avro", "changelog-2.parquet")
    def mlist(rel: String, names: String*): Unit =
      lake.avro(
        if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else names.toSeq.toDF("_FILE_NAME"), rel)
    mlist("manifest/ml-empty.avro")
    mlist("manifest/ml-1.avro", "m1.avro")
    mlist("manifest/ml-2.avro", "m2.avro")
    mlist("manifest/ml-cl.avro", "mcl.avro")
    def snap(id: Long, bs: String, dl: String,
             cl: Option[String]): String =
      s"""{"version":3,"id":$id,"schemaId":0,
         |"baseManifestList":"$bs","deltaManifestList":"$dl","""
        .stripMargin +
        cl.map(c => s""""changelogManifestList":"$c",""").getOrElse("") +
        s""""commitKind":"APPEND","commitUser":"t",
           |"commitIdentifier":$id,"timeMillis":0}""".stripMargin
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      snap(1, "ml-empty.avro", "ml-1.avro", None))
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
    // append mode refuses the PK table, naming the changelog option
    val e = intercept[Exception] {
      stream(root).writeStream.format("memory")
        .queryName("ps_clref_sink").start()
        .processAllAvailable()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("readChangelog=true")))
    // changelog mode: snapshot-1 merge as +I@1, then snapshot 2's
    // changelog as one batch (+U@2 ×10-valued, -D@2)
    spark.catalog.dropTempView("ps_cl_sink"): Unit
    val q = spark.readStream.format(fmt)
      .option("path", root).option("maxSnapshotsPerTrigger", "1")
      .option("readChangelog", "true").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("ps_cl_sink").start()
    try {
      q.processAllAvailable()
      Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
        snap(2, "ml-1.avro", "ml-2.avro", Some("ml-cl.avro")))
      Files.writeString(Paths.get(root, "snapshot", "LATEST"), "2")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ps_cl_sink")
      .select(col("id"), col("v"), col("_row_kind"), col("_snapshot_id"))
      .as[(Long, Long, String, Long)].collect().sorted.toSeq
    assert(got == ((0L to 4L).map(i => (i, i * 2, "+I", 1L)) ++
      Seq((0L, 0L, "-D", 2L), (1L, 20L, "+U", 2L),
        (2L, 40L, "+U", 2L))).sorted)
  }

  test("a DELETE entry in a consumed delta fails loudly") {
    val root = fixture("delete")
    append(root, 1)
    val q = stream(root).writeStream
      .format("memory").queryName("ps_del_sink").start()
    try {
      q.processAllAvailable()
      append(root, 2, deltaKind = 1)
      val e = intercept[StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("append-only") ||
        Option(e.getCause).exists(_.getMessage.contains("append-only")))
    } finally q.stop()
  }
}
