package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PaimonLite
import graft.sources.LakeFiles
import graft.sources.LakeFiles.rm

/** PaimonLite contract: snapshot resolution (explicit id / LATEST
  * hint / highest-N fallback), base+delta manifest-list replay with
  * ADD/DELETE netting, type mapping, PARTITIONED reads (BinaryRow
  * partition decode, null/default partitions, per-partition PK
  * merge), and every LOUD-failure path — non-parquet files, foreign
  * schemes, missing metadata, _PARTITION-less partitioned manifests.
  * The happy path against real data is q397/q398 (and q426/q427
  * partitioned)'s DuckDB oracle. */
class PaimonSpec extends AnyFunSuite {
  import TestSession._

  private val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Table with bucket-0/f0.parquet (ids 0..4) and f1.parquet (5..9):
    * snapshot 1 delta-adds both; snapshot 2 base-lists both and
    * delta-DELETEs f0 + adds f2 (ids 10..12). LATEST = 2. */
  private def fixture(name: String,
                      primaryKeys: String = "[]",
                      partitionKeys: String = "[]",
                      fileExt: String = "parquet",
                      latest: Boolean = true): String = {
    val root = s"/tmp/graft_paimonspec/$name"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    val df = spark.range(0, 13).select(col("id"), (col("id") * 3).as("v"))
    // write REAL bytes for the named extension (orc fixtures must be
    // genuine ORC; other extensions only exercise refusals)
    def one(filter: org.apache.spark.sql.Column, out: String): Unit =
      LakeFiles.stage(df.filter(filter),
        if (out.endsWith(".orc")) "orc" else "parquet",
        new java.io.File(s"$root/_tmp"),
        new java.io.File(s"$root/bucket-0/$out"))
    one(col("id") < 5, s"f0.$fileExt")
    one(col("id") >= 5 && col("id") < 10, s"f1.$fileExt")
    one(col("id") >= 10, s"f2.$fileExt")
    val lake = LakeFiles.Local(root)
    import spark.implicits._
    def manifest(rel: String, entries: (Int, String)*): Unit =
      lake.avro(entries.toSeq.toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
    manifest("manifest/m-add01.avro",
      (0, s"f0.$fileExt"), (0, s"f1.$fileExt"))
    manifest("manifest/m-del0add2.avro",
      (1, s"f0.$fileExt"), (0, s"f2.$fileExt"))
    def mlist(rel: String, names: String*): Unit =
      lake.avro(
        if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else names.toSeq.toDF("_FILE_NAME"), rel)
    mlist("manifest/ml-empty.avro")
    mlist("manifest/ml-01.avro", "m-add01.avro")
    mlist("manifest/ml-2.avro", "m-del0add2.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      s"""{"id":0,"fields":[
         | {"id":0,"name":"id","type":"BIGINT"},
         | {"id":1,"name":"v","type":"BIGINT"}],
         |"highestFieldId":1,"partitionKeys":$partitionKeys,
         |"primaryKeys":$primaryKeys,"options":{}}""".stripMargin)
    def snapJson(id: Long, base: String, delta: String): String =
      s"""{"version":3,"id":$id,"schemaId":0,
         |"baseManifestList":"$base","deltaManifestList":"$delta",
         |"commitKind":"APPEND","commitUser":"t","commitIdentifier":$id,
         |"timeMillis":0}""".stripMargin
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      snapJson(1, "ml-empty.avro", "ml-01.avro"))
    Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
      snapJson(2, "ml-01.avro", "ml-2.avro"))
    if (latest)
      Files.writeString(Paths.get(root, "snapshot", "LATEST"), "2")
    root
  }

  test("compact publishes a COMPACT snapshot: read unchanged, one " +
    "file, history travelable; partitioned tables pack per " +
    "partition with BinaryRow-stamped stats-complete manifests; " +
    "null-partition tables refuse") {
    import spark.implicits._
    val root = fixture("compact")
    val before = PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    val newId = PaimonLite.compact(spark, root)
    assert(newId == 3L)
    val after = PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(after == before)
    assert(PaimonLite.snapshot(spark, root).files.size == 1)
    // pre-compaction snapshots still travel
    assert(PaimonLite.read(spark, root, snapshotId = Some(2L))
      .as[(Long, Long)].collect().sorted.toSeq == before)
    // a COMPACT snapshot's delta is empty: the stream surface sees
    // zero new adds for it
    assert(PaimonLite.deltaAdds(spark, root, newId).isEmpty)
    // compacting twice stays content-identical
    assert(PaimonLite.compact(spark, root) == 4L)
    assert(PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq == after)
    // primary-key tables compact through the LSM full-compaction
    // path — covered by its own test below
    // a partitioned table (no nulls) packs per partition: values
    // round-trip through the writer's escaped dirs back into
    // BinaryRow-encoded manifest entries with real stats
    val rootP = partFixture("compactpart", withNull = false)
    val beforeP = PaimonLite.read(spark, rootP)
      .select("id", "v", "p").as[(Long, Long, String)]
      .collect().sorted.toSeq
    assert(beforeP.size == 10)
    val idP = PaimonLite.compact(spark, rootP)
    assert(idP == 2L)
    assert(PaimonLite.read(spark, rootP)
      .select("id", "v", "p").as[(Long, Long, String)]
      .collect().sorted.toSeq == beforeP)
    val snapP = PaimonLite.snapshot(spark, rootP)
    // one file per partition (3 partitions incl. the escaped a:b)
    assert(snapP.files.size == 3)
    assert(snapP.files.map(_.partition).toSet ==
      Set(Seq("a"), Seq("b"), Seq("a:b")))
    // stats-complete manifest: _FILE_SIZE/_ROW_COUNT are real
    val mf = spark.read.format(avroFmt)
      .load(s"$rootP/manifest/m-compact-2.avro")
      .select(col("_FILE._FILE_SIZE"), col("_FILE._ROW_COUNT"))
      .as[(Long, Long)].collect().toSeq
    assert(mf.map(_._2).sorted == Seq(2L, 3L, 5L))
    assert(mf.forall(_._1 > 100L))
    // a null partition refuses loudly
    val rootN = partFixture("compactnull", withNull = true)
    val eN = intercept[IllegalStateException] {
      PaimonLite.compact(spark, rootN)
    }
    assert(eN.getMessage.contains("null-partition"))
  }

  test("primary-key FULL COMPACTION: the engine fold lands in one " +
    "+I file per bucket with re-stamped winning sequences, read " +
    "unchanged, later writes still override, first-row keeps MIN, " +
    "changelog-demanding producers refuse") {
    import spark.implicits._
    val root = pkFixture("pkcompact")
    val before = PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(before == Seq((1L, 100L), (2L, 100L), (3L, 9L), (4L, 12L)))
    assert(PaimonLite.compact(spark, root) == 3L)
    assert(PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq == before)
    val snap = PaimonLite.snapshot(spark, root)
    assert(snap.files.size == 1 &&
      snap.files.head.path.contains("/bucket-0/"))
    // the compacted file is +I-only KeyValue with the WINNING
    // sequence per key (max under deduplicate)
    val kvf = spark.read.parquet(snap.files.head.path)
    assert(kvf.columns.toSeq == Seq("_KEY_id", "_SEQUENCE_NUMBER",
      "_VALUE_KIND", "id", "v"))
    assert(kvf.select("_VALUE_KIND").distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(0))
    assert(kvf.select("id", "_SEQUENCE_NUMBER").as[(Long, Long)]
      .collect().toMap == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    // time travel to pre-compaction snapshots stays intact
    assert(PaimonLite.read(spark, root, Some(1L))
      .as[(Long, Long)].collect().sorted.toSeq ==
      (0L to 4L).map(i => (i, i * 3)))
    // a LATER write (snapshot 4, sequence 3) still overrides the
    // re-stamped rows — the override contract survives compaction
    val lake = LakeFiles.Local(root)
    val late = Seq((3L, 777L)).toDF("id", "v")
      .select(col("id").as("_KEY_id"), lit(3L).as("_SEQUENCE_NUMBER"),
        lit(2).cast("tinyint").as("_VALUE_KIND"), col("id"), col("v"))
    lake.parquet(late, "bucket-0/kv2.parquet")
    lake.avro(Seq((0, "kv2.parquet")).toDF("_KIND", "_fn")
      .select(col("_KIND"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      "manifest/m-kv2.avro")
    lake.avro(Seq("m-kv2.avro").toDF("_FILE_NAME"),
      "manifest/ml-kv2.avro")
    Files.writeString(Paths.get(root, "snapshot", "snapshot-4"),
      s"""{"version":3,"id":4,"schemaId":0,
         |"baseManifestList":"ml-compact-3.avro",
         |"deltaManifestList":"ml-kv2.avro",
         |"commitKind":"APPEND","commitUser":"t","commitIdentifier":4,
         |"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "4")
    assert(PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 100L), (2L, 100L), (3L, 777L), (4L, 12L)))
    // FIRST-ROW re-stamps MIN so later writes still LOSE
    def kvF(rows: Seq[(Long, Long)], seq: Long, kind: Int = 0) =
      rows.toDF("id", "v").select(col("id").as("_KEY_id"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(kind).cast("tinyint").as("_VALUE_KIND"), col("id"), col("v"))
    val fr = pkCustomFixture("pkcfirst",
      """{"merge-engine":"first-row"}""",
      Seq("id" -> "BIGINT", "v" -> "BIGINT"), Seq(
        kvF(Seq((0L, 1L), (1L, 2L)), 1L),
        kvF(Seq((1L, 99L), (2L, 30L)), 2L)))
    assert(PaimonLite.compact(spark, fr) == 3L)
    val frSnap = PaimonLite.snapshot(spark, fr)
    assert(spark.read.parquet(frSnap.files.head.path)
      .select("id", "_SEQUENCE_NUMBER").as[(Long, Long)]
      .collect().toMap == Map(0L -> 1L, 1L -> 1L, 2L -> 2L))
    assert(PaimonLite.read(spark, fr)
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((0L, 1L), (1L, 2L), (2L, 30L)))
    // changelog-demanding producers refuse loudly
    val lk = pkFixture("pkclookup",
      options = """{"changelog-producer":"lookup"}""")
    val e = intercept[IllegalStateException] {
      PaimonLite.compact(spark, lk)
    }
    assert(e.getMessage.contains("changelog-producer=lookup"))
  }

  test("expireSnapshots drops history and deletes orphans; a TAG's " +
    "files survive expiry and the tag keeps reading") {
    import spark.implicits._
    // no tag: snapshot 1 expires, its orphans (f0, ml-empty) go
    val root = fixture("expire")
    assert(PaimonLite.expireSnapshots(spark, root, keepLast = 2) == Nil)
    assert(PaimonLite.expireSnapshots(spark, root, keepLast = 1)
      == Seq(1L))
    assert(PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq ==
      ((5L to 12L).map(i => (i, i * 3))))
    intercept[IllegalArgumentException] {
      PaimonLite.snapshot(spark, root, Some(1L))
    }
    assert(!Files.exists(Paths.get(root, "bucket-0", "f0.parquet")))
    assert(Files.exists(Paths.get(root, "bucket-0", "f1.parquet")))
    assert(Files.exists(Paths.get(root, "manifest", "m-add01.avro")))
    assert(Files.readString(
      Paths.get(root, "snapshot", "EARLIEST")).trim == "2")
    // with a tag pinning snapshot 1: f0 SURVIVES and the tag reads
    val root2 = fixture("expiretag")
    Files.createDirectories(Paths.get(root2, "tag"))
    Files.copy(Paths.get(root2, "snapshot", "snapshot-1"),
      Paths.get(root2, "tag", "tag-keep"))
    assert(PaimonLite.expireSnapshots(spark, root2, keepLast = 1)
      == Seq(1L))
    assert(Files.exists(Paths.get(root2, "bucket-0", "f0.parquet")))
    assert(PaimonLite.read(spark, root2, tag = Some("keep"))
      .as[(Long, Long)].collect().sorted.toSeq ==
      (0L to 9L).map(i => (i, i * 3)))
  }

  test("base+delta replay nets ADD/DELETE: f0 dropped, f2 added") {
    val root = fixture("happy")
    val snap = PaimonLite.snapshot(spark, root)
    assert(snap.snapshotId == 2L)
    assert(snap.files.map(_.path).toSet ==
      Set(s"$root/bucket-0/f1.parquet", s"$root/bucket-0/f2.parquet"))
    import spark.implicits._
    val got = PaimonLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.select("id").as[Long].collect().sorted.toSeq == (5L to 12L))
  }

  test("snapshot-id selection serves the pre-delete set") {
    val root = fixture("snapsel")
    import spark.implicits._
    assert(PaimonLite.read(spark, root, Some(1L))
      .select("id").as[Long].collect().sorted.toSeq == (0L to 9L))
    val e = intercept[IllegalArgumentException] {
      PaimonLite.snapshot(spark, root, Some(42L))
    }
    assert(e.getMessage.contains("snapshot 42"))
  }

  test("highest-N fallback resolves without LATEST hint") {
    val root = fixture("nohint", latest = false)
    assert(PaimonLite.snapshot(spark, root).snapshotId == 2L)
  }

  test("tag time travel reads the tag's own snapshot copy — even " +
    "after the numbered snapshot expired") {
    val root = fixture("tags")
    // tag the pre-delete state: a COPY of snapshot-1's JSON
    Files.createDirectories(Paths.get(root, "tag"))
    Files.copy(Paths.get(root, "snapshot", "snapshot-1"),
      Paths.get(root, "tag", "tag-keep"))
    assert(PaimonLite.read(spark, root, tag = Some("keep")).count() == 10)
    // expire snapshot 1 — the tag still reads (that is the point)
    Files.delete(Paths.get(root, "snapshot", "snapshot-1"))
    assert(PaimonLite.read(spark, root, tag = Some("keep")).count() == 10)
    // ...while the numbered lookup now refuses
    intercept[IllegalArgumentException] {
      PaimonLite.snapshot(spark, root, Some(1L))
    }
    // unknown tags refuse listing what exists
    val e = intercept[IllegalArgumentException] {
      PaimonLite.snapshot(spark, root, tag = Some("nope"))
    }
    assert(e.getMessage.contains("no tag named 'nope'") &&
      e.getMessage.contains("keep"))
    // axes are mutually exclusive
    intercept[IllegalArgumentException] {
      PaimonLite.snapshot(spark, root, Some(2L), tag = Some("keep"))
    }
  }

  test("timestamp travel selects by timeMillis; too-early refuses") {
    val root = fixture("tstravel")
    // stamp the snapshots: 1 @1000, 2 @2000
    for ((id, ts) <- Seq(1 -> 1000, 2 -> 2000)) {
      val p = Paths.get(root, "snapshot", s"snapshot-$id")
      Files.writeString(p, Files.readString(p)
        .replace("\"timeMillis\":0", s""""timeMillis":$ts"""))
    }
    assert(PaimonLite.snapshot(spark, root,
      asOfTimestampMs = Some(1500L)).snapshotId == 1L)
    assert(PaimonLite.snapshot(spark, root,
      asOfTimestampMs = Some(2000L)).snapshotId == 2L)
    val e = intercept[IllegalArgumentException] {
      PaimonLite.snapshot(spark, root, asOfTimestampMs = Some(999L))
    }
    assert(e.getMessage.contains("no snapshot at or before"))
  }

  /** PRIMARY-KEY fixture: KeyValue parquet files (_KEY_id,
    * _SEQUENCE_NUMBER, _VALUE_KIND, id, v) under bucket-0. kv0 inserts
    * ids 0..4 (v = id*3) at sequence 1; kv1 at sequence 2 updates
    * ids 1,2 to v=100 (+U) and deletes id 0 (-D, values retained).
    * Snapshot 1 = kv0; snapshot 2 = kv0 + kv1. */
  private def pkFixture(name: String, options: String = "{}"): String = {
    val root = s"/tmp/graft_paimonspec/$name"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    def kv(df: org.apache.spark.sql.DataFrame, seq: Long,
           kind: Int): org.apache.spark.sql.DataFrame =
      df.select(col("id").as("_KEY_id"), lit(seq).as("_SEQUENCE_NUMBER"),
        lit(kind).cast("tinyint").as("_VALUE_KIND"), col("id"), col("v"))
    def writeKv(df: org.apache.spark.sql.DataFrame, out: String): Unit =
      LakeFiles.Local(root).parquet(df, s"bucket-0/$out")
    val base = spark.range(0, 5).select(col("id"), (col("id") * 3).as("v"))
    writeKv(kv(base, 1L, 0), "kv0.parquet")
    writeKv(
      kv(base.filter(col("id").isin(1, 2))
        .withColumn("v", lit(100L)), 2L, 2)
        .unionByName(kv(base.filter(col("id") === 0), 2L, 3)),
      "kv1.parquet")
    val lake = LakeFiles.Local(root)
    import spark.implicits._
    def manifest(rel: String, entries: (Int, String)*): Unit =
      lake.avro(entries.toSeq.toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
    manifest("manifest/m-kv0.avro", (0, "kv0.parquet"))
    manifest("manifest/m-kv1.avro", (0, "kv1.parquet"))
    def mlist(rel: String, names: String*): Unit =
      lake.avro(
        if (names.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else names.toSeq.toDF("_FILE_NAME"), rel)
    mlist("manifest/ml-empty.avro")
    mlist("manifest/ml-kv0.avro", "m-kv0.avro")
    mlist("manifest/ml-kv1.avro", "m-kv1.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      s"""{"id":0,"fields":[
         | {"id":0,"name":"id","type":"BIGINT"},
         | {"id":1,"name":"v","type":"BIGINT"}],
         |"highestFieldId":1,"partitionKeys":[],
         |"primaryKeys":["id"],"options":$options}""".stripMargin)
    def snapJson(id: Long, base: String, delta: String): String =
      s"""{"version":3,"id":$id,"schemaId":0,
         |"baseManifestList":"$base","deltaManifestList":"$delta",
         |"commitKind":"APPEND","commitUser":"t","commitIdentifier":$id,
         |"timeMillis":0}""".stripMargin
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      snapJson(1, "ml-empty.avro", "ml-kv0.avro"))
    Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
      snapJson(2, "ml-kv0.avro", "ml-kv1.avro"))
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "2")
    root
  }

  /** PK fixture with caller-supplied KeyValue frames: file i lands in
    * its own snapshot i+1 (base re-lists earlier manifests). Each df
    * must already carry _KEY_id / _SEQUENCE_NUMBER / _VALUE_KIND +
    * the value columns named in `fields`. */
  private def pkCustomFixture(name: String, options: String,
                              fields: Seq[(String, String)],
                              kvFiles: Seq[org.apache.spark.sql.DataFrame])
  : String = {
    val root = s"/tmp/graft_paimonspec/$name"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(root, d))
    val lake = LakeFiles.Local(root)
    import spark.implicits._
    kvFiles.zipWithIndex.foreach { case (df, i) =>
      lake.parquet(df, s"bucket-0/kv$i.parquet")
      lake.avro(Seq((0, s"kv$i.parquet")).toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
        s"manifest/m-kv$i.avro")
      lake.avro((0 until i).map(j => s"m-kv$j.avro") match {
        case Nil => Seq.empty[String].toDF("_FILE_NAME")
        case ns  => ns.toDF("_FILE_NAME")
      }, s"manifest/ml-base-$i.avro")
      lake.avro(Seq(s"m-kv$i.avro").toDF("_FILE_NAME"),
        s"manifest/ml-delta-$i.avro")
      Files.writeString(Paths.get(root, "snapshot", s"snapshot-${i + 1}"),
        s"""{"version":3,"id":${i + 1},"schemaId":0,
           |"baseManifestList":"ml-base-$i.avro",
           |"deltaManifestList":"ml-delta-$i.avro",
           |"commitKind":"APPEND","commitUser":"t",
           |"commitIdentifier":${i + 1},"timeMillis":0}""".stripMargin)
    }
    val fjson = fields.zipWithIndex.map { case ((n, t), i) =>
      s"""{"id":$i,"name":"$n","type":"$t"}""" }.mkString(",")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      s"""{"id":0,"fields":[$fjson],
         |"highestFieldId":${fields.size - 1},"partitionKeys":[],
         |"primaryKeys":["id"],"options":$options}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"),
      kvFiles.size.toString)
    root
  }

  test("partial-update engine: latest NON-NULL per column wins; " +
    "retraction rows refuse per row") {
    import spark.implicits._
    def kv(rows: Seq[(Long, Option[Long], Option[Long])], seq: Long,
           kind: Int) =
      rows.toDF("id", "a", "b").select(col("id").as("_KEY_id"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(kind).cast("tinyint").as("_VALUE_KIND"),
        col("id"), col("a"), col("b"))
    val fields = Seq("id" -> "BIGINT", "a" -> "BIGINT", "b" -> "BIGINT")
    val opts = """{"merge-engine":"partial-update"}"""
    val root = pkCustomFixture("pupd", opts, fields, Seq(
      kv(Seq((0L, Some(10L), None), (1L, Some(11L), None)), 1L, 0),
      kv(Seq((0L, None, Some(7L)), (1L, Some(99L), None)), 2L, 2)))
    val got = PaimonLite.read(spark, root)
      .as[(Long, Option[Long], Option[Long])].collect().sorted.toSeq
    // id0: a=10 survives the later null, b fills in; id1: a overwritten
    assert(got == Seq((0L, Some(10L), Some(7L)),
      (1L, Some(99L), None)))
    // a -D row under partial-update refuses per row
    val root2 = pkCustomFixture("pupdDel", opts, fields, Seq(
      kv(Seq((0L, Some(1L), None)), 1L, 0),
      kv(Seq((0L, None, None)), 2L, 3)))
    val e = intercept[Exception] { PaimonLite.read(spark, root2).collect() }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("partial-update")))
    // a MALFORMED sequence group (unknown column) refuses at plan time
    intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, pkCustomFixture("pupdSeq",
        """{"merge-engine":"partial-update",
          |"fields.b.sequence-group":"nope"}""".stripMargin, fields, Seq(
          kv(Seq((0L, Some(1L), None)), 1L, 0))))
    }
  }

  test("partial-update sequence groups: a group's columns update " +
    "only when ITS sequence advances, nulls included; null group-seq " +
    "records never touch the group") {
    import spark.implicits._
    // fields: id (pk), a (member), sa (a's sequence), c (plain)
    def kv(rows: Seq[(Long, Option[Long], Option[Long], Option[Long])],
           seq: Long) =
      rows.toDF("id", "a", "sa", "c").select(col("id").as("_KEY_id"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(0).cast("tinyint").as("_VALUE_KIND"),
        col("id"), col("a"), col("sa"), col("c"))
    val fields = Seq("id" -> "BIGINT", "a" -> "BIGINT",
      "sa" -> "BIGINT", "c" -> "BIGINT")
    val opts =
      """{"merge-engine":"partial-update",
        |"fields.sa.sequence-group":"a"}""".stripMargin
    val root = pkCustomFixture("pupdSg", opts, fields, Seq(
      kv(Seq(
        (0L, Some(10L), Some(5L), Some(1L)),
        (1L, Some(11L), Some(5L), Some(1L)),
        (2L, Some(42L), None, Some(9L))), 1L),
      kv(Seq(
        // id0: group advances (7>5) → a overwrites WITH NULL;
        //      c: plain last-non-null keeps 1
        (0L, None, Some(7L), None),
        // id1: group seq 3 < 5 → a/sa keep the first version;
        //      c: plain → 2
        (1L, Some(99L), Some(3L), Some(2L))), 2L)))
    val got = PaimonLite.read(spark, root)
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().sorted.toSeq
    assert(got == Seq(
      (0L, None, Some(7L), Some(1L)),
      (1L, Some(11L), Some(5L), Some(2L)),
      // id2's only record carries a NULL group-seq → the group was
      // never updated (a/sa null); plain c reads 9
      (2L, None, None, Some(9L))))
    // the fold is still ONE aggregate, no window
    val plan = PaimonLite.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"sequence-group fold rides a window:\n$plan")
    // refusals: a column in two groups; a key column in a group; a
    // group on a non-partial-update engine
    intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, pkCustomFixture("pupdSgDup",
        """{"merge-engine":"partial-update",
          |"fields.sa.sequence-group":"a",
          |"fields.c.sequence-group":"a"}""".stripMargin, fields, Seq(
          kv(Seq((0L, Some(1L), Some(1L), None)), 1L))))
    }
    intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, pkCustomFixture("pupdSgKey",
        """{"merge-engine":"partial-update",
          |"fields.sa.sequence-group":"id"}""".stripMargin, fields, Seq(
          kv(Seq((0L, Some(1L), Some(1L), None)), 1L))))
    }
    intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, pkCustomFixture("pupdSgAgg",
        """{"merge-engine":"aggregation",
          |"fields.sa.sequence-group":"a"}""".stripMargin, fields, Seq(
          kv(Seq((0L, Some(1L), Some(1L), None)), 1L))))
    }
  }

  test("aggregation engine: declared per-field folds, default " +
    "last_non_null_value; unsupported functions refuse") {
    import spark.implicits._
    def kv(rows: Seq[(Long, Option[Long], Option[Long])], seq: Long) =
      rows.toDF("id", "s", "m").select(col("id").as("_KEY_id"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(0).cast("tinyint").as("_VALUE_KIND"),
        col("id"), col("s"), col("m"))
    val fields = Seq("id" -> "BIGINT", "s" -> "BIGINT", "m" -> "BIGINT")
    val root = pkCustomFixture("pagg",
      """{"merge-engine":"aggregation",
        |"fields.s.aggregate-function":"sum",
        |"fields.m.aggregate-function":"max"}""".stripMargin, fields, Seq(
        kv(Seq((0L, Some(5L), Some(3L)), (1L, Some(1L), Some(9L))), 1L),
        kv(Seq((0L, Some(2L), Some(8L)), (1L, None, Some(4L))), 2L)))
    val got = PaimonLite.read(spark, root)
      .as[(Long, Option[Long], Option[Long])].collect().sorted.toSeq
    assert(got == Seq((0L, Some(7L), Some(8L)), (1L, Some(1L), Some(9L))))
    intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, pkCustomFixture("paggBad",
        """{"merge-engine":"aggregation",
          |"fields.s.aggregate-function":"product"}""".stripMargin,
        fields, Seq(kv(Seq((0L, Some(1L), None)), 1L))))
    }
  }

  test("aggregation engine: count / bool_and / bool_or / last_value / " +
    "first_value / first_non_null_value / listagg fold correctly; " +
    "type mismatches refuse at plan time") {
    import spark.implicits._
    // fields: id pk, n (count), ba (bool_and), lv (last_value —
    // a later NULL overwrites), fnn (first_non_null_value),
    // s (listagg with a custom delimiter)
    def kv(rows: Seq[(Long, Option[Long], Option[Boolean], Option[Long],
                      Option[Long], Option[String])], seq: Long) =
      rows.toDF("id", "n", "ba", "lv", "fnn", "s")
        .select(col("id").as("_KEY_id"),
          lit(seq).as("_SEQUENCE_NUMBER"),
          lit(0).cast("tinyint").as("_VALUE_KIND"),
          col("id"), col("n"), col("ba"), col("lv"), col("fnn"),
          col("s"))
    val fields = Seq("id" -> "BIGINT", "n" -> "BIGINT",
      "ba" -> "BOOLEAN", "lv" -> "BIGINT", "fnn" -> "BIGINT",
      "s" -> "STRING")
    val opts =
      """{"merge-engine":"aggregation",
        |"fields.n.aggregate-function":"count",
        |"fields.ba.aggregate-function":"bool_and",
        |"fields.lv.aggregate-function":"last_value",
        |"fields.fnn.aggregate-function":"first_non_null_value",
        |"fields.s.aggregate-function":"listagg",
        |"fields.s.list-agg-delimiter":"|"}""".stripMargin
    val root = pkCustomFixture("paggX", opts, fields, Seq(
      kv(Seq(
        (0L, Some(7L), Some(true), Some(1L), None, Some("a")),
        (1L, None, Some(true), Some(9L), Some(5L), None)), 1L),
      kv(Seq(
        (0L, Some(9L), Some(false), None, Some(4L), Some("b")),
        (1L, Some(2L), Some(true), Some(8L), Some(6L), Some("x"))), 2L)))
    val got = PaimonLite.read(spark, root)
      .as[(Long, Long, Option[Boolean], Option[Long], Option[Long],
        String)].collect().sorted.toSeq
    assert(got == Seq(
      // id0: count 2 non-null; true&&false; last_value NULL
      // (overwrite); first non-null 4; "a|b" in merge order
      (0L, 2L, Some(false), None, Some(4L), "a|b"),
      // id1: count 1; true&&true; last 8; first non-null 5; "x"
      (1L, 1L, Some(true), Some(8L), Some(5L), "x")))
    // bool_and over a non-boolean column refuses at plan time
    intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, pkCustomFixture("paggBadT",
        """{"merge-engine":"aggregation",
          |"fields.n.aggregate-function":"bool_and"}""".stripMargin,
        fields, Seq(kv(Seq((0L, Some(1L), None, None, None, None)),
          1L))))
    }
    // an aggregate naming an unknown column refuses at plan time
    intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, pkCustomFixture("paggBadC",
        """{"merge-engine":"aggregation",
          |"fields.nope.aggregate-function":"sum"}""".stripMargin,
        fields, Seq(kv(Seq((0L, Some(1L), None, None, None, None)),
          1L))))
    }
  }

  test("first-row engine: the FIRST row per key wins; non-insert " +
    "kinds refuse per row") {
    import spark.implicits._
    def kv(rows: Seq[(Long, Long)], seq: Long, kind: Int = 0) =
      rows.toDF("id", "v").select(col("id").as("_KEY_id"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(kind).cast("tinyint").as("_VALUE_KIND"), col("id"), col("v"))
    val fields = Seq("id" -> "BIGINT", "v" -> "BIGINT")
    val opts = """{"merge-engine":"first-row"}"""
    val root = pkCustomFixture("pfirst", opts, fields, Seq(
      kv(Seq((0L, 1L), (1L, 2L)), 1L),
      kv(Seq((1L, 99L), (2L, 30L)), 2L)))
    val got = PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((0L, 1L), (1L, 2L), (2L, 30L)))
    // a +U under first-row refuses (insert-only engine)
    val root2 = pkCustomFixture("pfirstU", opts, fields, Seq(
      kv(Seq((0L, 1L)), 1L),
      kv(Seq((0L, 9L)), 2L, kind = 2)))
    val e = intercept[Exception] { PaimonLite.read(spark, root2).collect() }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("first-row")))
  }

  test("primary-key merge: latest sequence wins, winning delete drops key") {
    import spark.implicits._
    val root = pkFixture("pkmerge")
    val got = PaimonLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 100L), (2L, 100L), (3L, 9L), (4L, 12L)))
    // the LSM merge must be an AGGREGATE (partial max_by combines
    // map-side before the one keyed shuffle), never a window (which
    // ships every version and sorts whole partitions)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by") || plan.contains("max_by"),
      s"PK merge does not ride max_by:\n$plan")
    assert(!plan.contains("Window"),
      s"PK merge rides a window — no map-side combine:\n$plan")
    // snapshot 1 = the raw inserts
    assert(PaimonLite.read(spark, root, Some(1L))
      .as[(Long, Long)].collect().sorted.toSeq ==
      (0L to 4L).map(i => (i, i * 3)))
  }

  test("primary-key merge ties break by kind: +U outranks +I") {
    import spark.implicits._
    val root = pkFixture("pktie")
    // rewrite kv1 at sequence 1 — SAME sequence as the inserts
    LakeFiles.Local(root).parquet(
      spark.read.parquet(s"$root/bucket-0/kv1.parquet")
        .withColumn("_SEQUENCE_NUMBER", lit(1L)),
      "bucket-0/kv1.parquet")
    val got = PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    // -D(3) > +U(2) > +I(0): id 0 still dies, ids 1,2 still update
    assert(got == Seq((1L, 100L), (2L, 100L), (3L, 9L), (4L, 12L)))
  }

  test("changelog-producer=lookup: an append snapshot is an EMPTY " +
    "changelog (deferred), the lookup COMPACT snapshot serves the " +
    "normalized rows") {
    import spark.implicits._
    val root = pkFixture("pklookup",
      options = """{"changelog-producer":"lookup"}""")
    // snapshot 2 (APPEND, no changelogManifestList): EMPTY, not a
    // refusal — lookup defers to the next compaction
    val cl2 = PaimonLite.readChangelog(spark, root, 2L)
    assert(cl2.columns.toSeq == Seq("id", "v", "_row_kind"))
    assert(cl2.count() == 0)
    // publish the lookup COMPACT snapshot with the deferred
    // NORMALIZED changelog: -U/+U for ids 1,2 and -D for id 0
    def writeKv(df: org.apache.spark.sql.DataFrame, out: String): Unit =
      LakeFiles.Local(root).parquet(df, s"bucket-0/$out")
    def kvRows(rows: Seq[(Long, Long)], kind: Int) =
      rows.toDF("id", "v").select(col("id").as("_KEY_id"),
        lit(2L).as("_SEQUENCE_NUMBER"),
        lit(kind).cast("tinyint").as("_VALUE_KIND"),
        col("id"), col("v"))
    writeKv(kvRows(Seq((1L, 3L), (2L, 6L)), 1)
      .unionByName(kvRows(Seq((1L, 100L), (2L, 100L)), 2))
      .unionByName(kvRows(Seq((0L, 0L)), 3)), "changelog-3.parquet")
    val lake = LakeFiles.Local(root)
    lake.avro(Seq((0, "changelog-3.parquet")).toDF("_KIND", "_fn")
      .select(col("_KIND"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      "manifest/m-cl3.avro")
    lake.avro(Seq("m-cl3.avro").toDF("_FILE_NAME"),
      "manifest/ml-cl3.avro")
    Files.writeString(Paths.get(root, "snapshot", "snapshot-3"),
      """{"version":3,"id":3,"schemaId":0,
        |"baseManifestList":"ml-kv1.avro",
        |"deltaManifestList":"ml-empty.avro",
        |"changelogManifestList":"ml-cl3.avro",
        |"commitKind":"COMPACT","commitUser":"t","commitIdentifier":3,
        |"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "3")
    val cl3 = PaimonLite.readChangelog(spark, root, 3L)
      .select("id", "v", "_row_kind").as[(Long, Long, String)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(cl3 == Seq((0L, 0L, "-D"), (1L, 3L, "-U"), (1L, 100L, "+U"),
      (2L, 6L, "-U"), (2L, 100L, "+U")))
    // a producer that materializes NOTHING still refuses by name
    val rootN = pkFixture("pknone")
    val eN = intercept[IllegalStateException] {
      PaimonLite.readChangelog(spark, rootN, 2L)
    }
    assert(eN.getMessage.contains("lookup"))
  }

  test("expiry × changelogs: the default refuses an expired " +
    "changelog-carrying snapshot; dropChangelogs=true expires its " +
    "changelog files with it while retained changelogs survive") {
    import spark.implicits._
    val root = pkFixture("clexpire",
      options = """{"changelog-producer":"input"}""")
    def writeKv(df: org.apache.spark.sql.DataFrame, out: String): Unit =
      LakeFiles.Local(root).parquet(df, s"bucket-0/$out")
    val lake = LakeFiles.Local(root)
    def clFile(rows: Seq[(Long, Long)], out: String): Unit =
      writeKv(rows.toDF("id", "v").select(col("id").as("_KEY_id"),
        lit(2L).as("_SEQUENCE_NUMBER"),
        lit(2).cast("tinyint").as("_VALUE_KIND"), col("id"), col("v")),
        out)
    def manifest(rel: String, fn: String): Unit =
      lake.avro(Seq((0, fn)).toDF("_KIND", "_fn")
        .select(col("_KIND"), lit(0).as("_BUCKET"),
          struct(col("_fn").as("_FILE_NAME")).as("_FILE")), rel)
    def mlist(rel: String, names: String*): Unit =
      lake.avro(names.toDF("_FILE_NAME"), rel)
    // snapshot 2 gains an input changelog; snapshot 3 (same state)
    // carries its own
    clFile(Seq((1L, 100L), (2L, 100L)), "changelog-2.parquet")
    clFile(Seq((3L, 9L)), "changelog-3.parquet")
    manifest("manifest/m-cl2.avro", "changelog-2.parquet")
    manifest("manifest/m-cl3.avro", "changelog-3.parquet")
    mlist("manifest/ml-cl2.avro", "m-cl2.avro")
    mlist("manifest/ml-cl3.avro", "m-cl3.avro")
    mlist("manifest/ml-all.avro", "m-kv0.avro", "m-kv1.avro")
    Files.writeString(Paths.get(root, "snapshot", "snapshot-2"),
      """{"version":3,"id":2,"schemaId":0,
        |"baseManifestList":"ml-kv0.avro",
        |"deltaManifestList":"ml-kv1.avro",
        |"changelogManifestList":"ml-cl2.avro",
        |"commitKind":"APPEND","commitUser":"t","commitIdentifier":2,
        |"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "snapshot-3"),
      """{"version":3,"id":3,"schemaId":0,
        |"baseManifestList":"ml-all.avro",
        |"deltaManifestList":"ml-empty.avro",
        |"changelogManifestList":"ml-cl3.avro",
        |"commitKind":"APPEND","commitUser":"t","commitIdentifier":3,
        |"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "3")
    // default: refuse (snapshot 2 would lose its changelog silently)
    val e = intercept[IllegalStateException] {
      PaimonLite.expireSnapshots(spark, root, keepLast = 1)
    }
    assert(e.getMessage.contains("dropChangelogs"))
    // opted in: snapshots 1-2 expire WITH snapshot 2's changelog;
    // snapshot 3's changelog and the live read survive
    assert(PaimonLite.expireSnapshots(spark, root, keepLast = 1,
      dropChangelogs = true) == Seq(1L, 2L))
    assert(!Files.exists(
      Paths.get(root, "bucket-0", "changelog-2.parquet")))
    assert(Files.exists(
      Paths.get(root, "bucket-0", "changelog-3.parquet")))
    assert(PaimonLite.readChangelog(spark, root, 3L).count() == 1L)
    assert(PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 100L), (2L, 100L), (3L, 9L), (4L, 12L)))
    intercept[Exception] {
      PaimonLite.readChangelog(spark, root, 2L)
    }
  }

  test("changelog read refuses a snapshot without a changelog; a " +
    "COMPACT snapshot is an EMPTY changelog, not a refusal") {
    val root = pkFixture("pkcl")
    val e = intercept[IllegalStateException] {
      PaimonLite.readChangelog(spark, root, 2L)
    }
    assert(e.getMessage.contains("changelogManifestList"))
    intercept[IllegalArgumentException] {
      PaimonLite.readChangelog(spark, root, 42L)
    }
    // a compaction rearranges files without changing data: consumers
    // skip it — zero rows, full changelog shape
    val snap2 = Files.readString(
      Paths.get(root, "snapshot", "snapshot-2"))
    Files.writeString(Paths.get(root, "snapshot", "snapshot-3"),
      snap2.replace("\"id\":2", "\"id\":3")
        .replace("\"commitKind\":\"APPEND\"",
          "\"commitKind\":\"COMPACT\""))
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "3")
    val got = PaimonLite.readChangelog(spark, root, 3L)
    assert(got.count() == 0L)
    assert(got.columns.toSeq ==
      Seq("id", "v", "_row_kind"))
  }

  test("randomized maintenance model check: append/compact/expire " +
    "sequences stay model-equal — travel serves retained snapshots, " +
    "expired ones refuse, tagged files survive — across seeds") {
    import spark.implicits._
    for (seed <- Seq(47, 613, 882)) {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_paimonspec/maint$seed"
      rm(new java.io.File(root))
      for (d <- Seq("snapshot", "schema", "manifest", "bucket-0", "tag"))
        Files.createDirectories(Paths.get(root, d))
      Files.writeString(Paths.get(root, "schema", "schema-0"),
        """{"id":0,"fields":[
          | {"id":0,"name":"id","type":"BIGINT"},
          | {"id":1,"name":"v","type":"BIGINT"}],
          |"highestFieldId":1,"partitionKeys":[],"primaryKeys":[],
          |"options":{"file.format":"parquet"}}""".stripMargin)
      val lake = LakeFiles.Local(root)
      lake.avro(Seq.empty[String].toDF("_FILE_NAME"),
        "manifest/ml-empty.avro")
      // model: rows per snapshot id (cumulative appends; a COMPACT
      // snapshot repeats its predecessor's rows), live = newest
      var perSnap = Map.empty[Long, Set[(Long, Long)]]
      var expired = Set.empty[Long]
      var tagged = Map.empty[String, Long]
      var manifests = Seq.empty[String] // live data manifests, in order
      var snapId = 0L
      var nextKey = 0L
      def publish(base: Seq[String], delta: Seq[String],
                  kind: String): Unit = {
        val bs = s"ml-base-$snapId.avro"
        val ds = s"ml-delta-$snapId.avro"
        lake.avro(if (base.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
          else base.toDF("_FILE_NAME"), s"manifest/$bs")
        lake.avro(if (delta.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
          else delta.toDF("_FILE_NAME"), s"manifest/$ds")
        Files.writeString(Paths.get(root, "snapshot", s"snapshot-$snapId"),
          s"""{"version":3,"id":$snapId,"schemaId":0,
             |"baseManifestList":"$bs","deltaManifestList":"$ds",
             |"commitKind":"$kind","commitUser":"t",
             |"commitIdentifier":$snapId,"timeMillis":0}""".stripMargin)
        Files.writeString(Paths.get(root, "snapshot", "LATEST"),
          snapId.toString)
      }
      def check(): Unit = {
        for ((id, rows) <- perSnap) {
          if (expired(id))
            intercept[Exception] {
              PaimonLite.read(spark, root, Some(id)).collect()
            }
          else
            assert(PaimonLite.read(spark, root, Some(id))
              .as[(Long, Long)].collect().toSet == rows,
              s"seed $seed snapshot $id")
        }
        for ((tag, id) <- tagged)
          assert(PaimonLite.read(spark, root, tag = Some(tag))
            .as[(Long, Long)].collect().toSet == perSnap(id),
            s"seed $seed tag $tag")
      }
      val nOps = 6 + rnd.nextInt(4)
      for (_ <- 1 to nOps) {
        val op =
          if (snapId == 0L) "append"
          else Seq("append", "append", "compact", "expire",
            "tag")(rnd.nextInt(5))
        op match {
          case "append" =>
            snapId += 1
            val n = 2 + rnd.nextInt(4)
            val rows = (nextKey until nextKey + n).map(k => (k, k * 7))
            nextKey += 100
            val fn = s"f$snapId.parquet"
            lake.parquet(
              rows.toDF("id", "v"),
              s"bucket-0/$fn")
            val mf = s"m$snapId.avro"
            lake.avro(Seq((0, fn)).toDF("_KIND", "_fn")
              .select(col("_KIND"), lit(0).as("_BUCKET"),
                struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
              s"manifest/$mf")
            publish(manifests, Seq(mf), "APPEND")
            manifests = manifests :+ mf
            perSnap += snapId ->
              (perSnap.getOrElse(snapId - 1, Set.empty) ++ rows)
          case "compact" =>
            val prev = perSnap(snapId)
            snapId += 1
            assert(PaimonLite.compact(spark, root) == snapId)
            // the replay now serves the packed manifest; track it
            manifests = Seq(s"m-compact-$snapId.avro")
            perSnap += snapId -> prev
            // a COMPACT snapshot's delta is empty to the stream
            assert(PaimonLite.deltaAdds(spark, root, snapId).isEmpty)
          case "expire" =>
            val keep = 1 + rnd.nextInt(2)
            val ids = perSnap.keySet -- expired
            val dropped = PaimonLite.expireSnapshots(spark, root, keep)
            val wantDropped = ids.toSeq.sorted.dropRight(keep)
            assert(dropped.sorted == wantDropped.sorted,
              s"seed $seed: dropped $dropped want $wantDropped")
            expired ++= dropped
          case "tag" =>
            val name = s"t$snapId"
            if (!tagged.contains(name)) {
              Files.copy(Paths.get(root, "snapshot", s"snapshot-$snapId"),
                Paths.get(root, "tag", s"tag-$name"))
              tagged += name -> snapId
            }
        }
        check()
      }
    }
  }

  test("randomized model check: every merge engine equals its " +
    "in-order event fold") {
    import spark.implicits._
    val fields = Seq("id" -> "BIGINT", "a" -> "BIGINT", "b" -> "STRING")
    def kvm(rows: Seq[(Long, Option[Long], Option[String], Int)],
            seq: Long) =
      rows.toDF("id", "a", "b", "k").select(col("id").as("_KEY_id"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        col("k").cast("tinyint").as("_VALUE_KIND"),
        col("id"), col("a"), col("b"))
    for (seed <- Seq(7, 99);
         engine <- Seq("deduplicate", "partial-update", "aggregation",
           "first-row")) {
      val rnd = new scala.util.Random(seed)
      // per frame: UNIQUE keys (two same-key rows in one file would
      // tie the whole (seq, kind, file) order — undefined in Paimon
      // too); kinds drawn from the engine's legal set
      val frames = (1 to 2 + rnd.nextInt(3)).map { s =>
        val keys = rnd.shuffle((0L to 5L).toList)
          .take(1 + rnd.nextInt(5))
        s.toLong -> keys.map { k =>
          val a = if (rnd.nextBoolean()) Some(rnd.nextInt(100).toLong)
            else None
          val b = if (rnd.nextBoolean()) Some(s"s${rnd.nextInt(5)}")
            else None
          val kind = engine match {
            case "deduplicate" => Seq(0, 2, 3)(rnd.nextInt(3))
            case "first-row"   => 0
            case _             => Seq(0, 2)(rnd.nextInt(2))
          }
          (k, a, b, kind)
        }
      }
      // in-order model fold
      val state = scala.collection.mutable
        .LinkedHashMap.empty[Long, (Option[Long], Option[String])]
      val dead = scala.collection.mutable.Set.empty[Long]
      for ((_, rows) <- frames; (k, a, b, kind) <- rows) engine match {
        case "deduplicate" =>
          if (kind == 3) { state.remove(k); dead += k }
          else { state(k) = (a, b); dead -= k }
        case "partial-update" =>
          val prev = state.getOrElse(k, (None, None))
          state(k) = (a.orElse(prev._1), b.orElse(prev._2))
        case "aggregation" => // sum on a, last_non_null on b
          val prev = state.getOrElse(k, (None, None))
          val sa = (prev._1, a) match {
            case (Some(x), Some(y)) => Some(x + y)
            case (x, y)             => y.orElse(x)
          }
          state(k) = (sa, b.orElse(prev._2))
        case "first-row" =>
          if (!state.contains(k)) state(k) = (a, b)
      }
      val opts = engine match {
        case "aggregation" =>
          """{"merge-engine":"aggregation",
            |"fields.a.aggregate-function":"sum"}""".stripMargin
        case e => s"""{"merge-engine":"$e"}"""
      }
      val root = pkCustomFixture(s"model_${engine}_$seed", opts,
        fields, frames.map { case (s, rows) => kvm(rows, s) })
      def readRows = PaimonLite.read(spark, root)
        .as[(Long, Option[Long], Option[String])].collect().sorted.toSeq
      val want = state.toSeq.map { case (k, (a, b)) => (k, a, b) }.sorted
      assert(readRows == want,
        s"$engine/seed $seed: got $readRows, want $want")
      // FULL COMPACTION must preserve the fold exactly (one +I file,
      // re-stamped sequences) — and the fold must keep working for
      // LATER writes: an appended frame merges against the compacted
      // state as if compaction never happened
      val compactId = PaimonLite.compact(spark, root)
      assert(readRows == want,
        s"$engine/seed $seed post-compaction: got $readRows")
      assert(PaimonLite.snapshot(spark, root).files.size == 1)
      val lateSeq = frames.size + 1L
      val lateKeys = rnd.shuffle((0L to 5L).toList).take(2)
      val lateRows = lateKeys.map(k =>
        (k, Some(rnd.nextInt(100).toLong): Option[Long],
          Some(s"z${rnd.nextInt(5)}"): Option[String], 0))
      for ((k, a, b, _) <- lateRows) engine match {
        case "deduplicate"    => state(k) = (a, b); dead -= k
        case "partial-update" =>
          val prev = state.getOrElse(k, (None, None))
          state(k) = (a.orElse(prev._1), b.orElse(prev._2))
        case "aggregation" =>
          val prev = state.getOrElse(k, (None, None))
          val sa = (prev._1, a) match {
            case (Some(x), Some(y)) => Some(x + y)
            case (x, y)             => y.orElse(x)
          }
          state(k) = (sa, b.orElse(prev._2))
        case "first-row" =>
          if (!state.contains(k)) state(k) = (a, b)
      }
      appendPkFrame(root, kvm(lateRows, lateSeq), compactId,
        s"ml-compact-$compactId.avro")
      val want2 = state.toSeq.map { case (k, (a, b)) => (k, a, b) }.sorted
      assert(readRows == want2,
        s"$engine/seed $seed post-compaction append: got $readRows, " +
          s"want $want2")
      // WRITER leg: rows appended through PaimonLite.upsert (fresh
      // max sequence, +I kind) must fold under the same engine model
      val wRows = rnd.shuffle((0L to 6L).toList).take(2).map { k =>
        (k,
          if (rnd.nextBoolean()) Some(rnd.nextInt(100).toLong)
          else None: Option[Long],
          if (rnd.nextBoolean()) Some(s"w${rnd.nextInt(5)}")
          else None: Option[String])
      }
      PaimonLite.upsert(spark, root, wRows.toDF("id", "a", "b")): Unit
      for ((k, a, b) <- wRows) engine match {
        case "deduplicate" => state(k) = (a, b); dead -= k
        case "partial-update" =>
          val prev = state.getOrElse(k, (None, None))
          state(k) = (a.orElse(prev._1), b.orElse(prev._2))
        case "aggregation" =>
          val prev = state.getOrElse(k, (None, None))
          val sa = (prev._1, a) match {
            case (Some(x), Some(y)) => Some(x + y)
            case (x, y)             => y.orElse(x)
          }
          state(k) = (sa, b.orElse(prev._2))
        case "first-row" =>
          if (!state.contains(k)) state(k) = (a, b)
      }
      def want3 = state.toSeq.map { case (k, (a, b)) => (k, a, b) }
        .sorted
      assert(readRows == want3,
        s"$engine/seed $seed after WRITER upsert: got $readRows, " +
          s"want $want3")
      if (engine == "deduplicate") {
        // -D deletes ride deleteKeys; other engines refuse them
        state.keys.toSeq.sorted.headOption.foreach { dk =>
          PaimonLite.deleteKeys(spark, root, Seq(dk).toDF("id")): Unit
          state.remove(dk): Unit
          assert(readRows == want3,
            s"$engine/seed $seed after WRITER delete: got $readRows")
        }
      } else {
        val e = intercept[IllegalStateException] {
          PaimonLite.deleteKeys(spark, root, Seq(0L).toDF("id"))
        }
        assert(e.getMessage.contains("retractions"), e.getMessage)
      }
      // and the PK compaction folds the WRITER's rows exactly
      PaimonLite.compact(spark, root): Unit
      assert(readRows == want3,
        s"$engine/seed $seed post-writer compaction: got $readRows")
    }
  }

  test("PK writer refusals: duplicate batch keys, changelog-demanding " +
    "producers, missing key columns, append-only tables; a " +
    "partial-update upsert MISSING a value column writes null (the " +
    "true partial update)") {
    import spark.implicits._
    val fields = Seq("id" -> "BIGINT", "a" -> "BIGINT", "b" -> "STRING")
    def kvm(rows: Seq[(Long, Option[Long], Option[String])], seq: Long) =
      rows.toDF("id", "a", "b").select(col("id").as("_KEY_id"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(0).cast("tinyint").as("_VALUE_KIND"),
        col("id"), col("a"), col("b"))
    val root = pkCustomFixture("pkwriter_pu",
      """{"merge-engine":"partial-update"}""", fields,
      Seq(kvm(Seq((1L, Some(10L), Some("x"))), 1)))
    // upsert WITHOUT column b: a true partial update — a survives
    // only if the input's null does not overwrite... b keeps "x"
    PaimonLite.upsert(spark, root, Seq((1L, 99L)).toDF("id", "a")): Unit
    assert(PaimonLite.read(spark, root)
      .as[(Long, Option[Long], Option[String])].collect().toSeq ==
      Seq((1L, Some(99L), Some("x"))))
    // duplicate keys in one batch refuse
    assert(intercept[IllegalStateException] {
      PaimonLite.upsert(spark, root,
        Seq((1L, 1L), (1L, 2L)).toDF("id", "a"))
    }.getMessage.contains("DUPLICATE"))
    // keys that COLLAPSE under the schema cast ("1" vs "01" into the
    // BIGINT key) are duplicates too — the check runs on the cast rows
    assert(intercept[IllegalStateException] {
      PaimonLite.upsert(spark, root,
        Seq(("1", 1L), ("01", 2L)).toDF("id", "a"))
    }.getMessage.contains("DUPLICATE"))
    // missing key column refuses
    assert(intercept[IllegalStateException] {
      PaimonLite.upsert(spark, root, Seq(1L).toDF("a"))
    }.getMessage.contains("id"))
    // compaction-materialized producers refuse
    val rootCl = pkCustomFixture("pkwriter_cl",
      """{"merge-engine":"deduplicate","changelog-producer":"lookup"}""",
      fields, Seq(kvm(Seq((1L, Some(10L), Some("x"))), 1)))
    assert(intercept[IllegalStateException] {
      PaimonLite.upsert(spark, rootCl, Seq((1L, 2L)).toDF("id", "a"))
    }.getMessage.contains("changelog-producer"))
    // producer=input WRITES its changelog: the input rows come back
    // through readChangelog with their kinds, and the merged read
    // still folds
    val rootIn = pkCustomFixture("pkwriter_in",
      """{"merge-engine":"deduplicate","changelog-producer":"input"}""",
      fields, Seq(kvm(Seq((1L, Some(10L), Some("x")),
        (2L, Some(20L), Some("y"))), 1)))
    val upId = PaimonLite.upsert(spark, rootIn,
      Seq((1L, 99L, "z"), (5L, 50L, "w")).toDF("id", "a", "b"))
    assert(PaimonLite.readChangelog(spark, rootIn, upId)
      .select("id", "a", "b", "_row_kind")
      .as[(Long, Option[Long], Option[String], String)]
      .collect().sorted.toSeq ==
      Seq((1L, Some(99L), Some("z"), "+I"),
        (5L, Some(50L), Some("w"), "+I")))
    val delId = PaimonLite.deleteKeys(spark, rootIn,
      Seq(2L).toDF("id"))
    assert(PaimonLite.readChangelog(spark, rootIn, delId)
      .select("id", "_row_kind").as[(Long, String)]
      .collect().toSeq == Seq((2L, "-D")))
    assert(PaimonLite.read(spark, rootIn)
      .as[(Long, Option[Long], Option[String])].collect().sorted
      .toSeq == Seq((1L, Some(99L), Some("z")),
      (5L, Some(50L), Some("w"))))
    // the earlier snapshots' changelog reads stay intact (no
    // changelog for the fixture snapshot → refuses naming producers)
    assert(intercept[IllegalStateException] {
      PaimonLite.readChangelog(spark, rootIn, 1L)
    }.getMessage.contains("changelogManifestList"))
    // append-only tables (no PK) refuse naming the sink
    val rootAo = s"/tmp/graft_paimonspec/pkwriter_ao"
    rm(new java.io.File(rootAo))
    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(rootAo, d))
    Files.writeString(Paths.get(rootAo, "schema", "schema-0"),
      """{"id":0,"fields":[{"id":0,"name":"id","type":"BIGINT"}],
        |"highestFieldId":0,"partitionKeys":[],"primaryKeys":[],
        |"options":{}}""".stripMargin)
    // one empty snapshot so snapshot() resolves
    val lake = LakeFiles.Local(rootAo)
    lake.avro(Seq.empty[String].toDF("_FILE_NAME"),
      "manifest/ml-0.avro")
    Files.writeString(Paths.get(rootAo, "snapshot", "snapshot-1"),
      """{"version":3,"id":1,"schemaId":0,
        |"baseManifestList":"ml-0.avro",
        |"deltaManifestList":"ml-0.avro",
        |"commitKind":"APPEND","commitUser":"t",
        |"commitIdentifier":1,"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(rootAo, "snapshot", "LATEST"), "1")
    assert(intercept[IllegalStateException] {
      PaimonLite.upsert(spark, rootAo, Seq(1L).toDF("id"))
    }.getMessage.contains("primary key"))
  }

  /** Append one KeyValue frame as snapshot `baseId`+1 whose base
    * manifest list is `baseList` — the later-write leg of the
    * compaction model check. */
  private def appendPkFrame(root: String,
                            kv: org.apache.spark.sql.DataFrame,
                            baseId: Long, baseList: String): Unit = {
    import spark.implicits._
    val lake = LakeFiles.Local(root)
    val newId = baseId + 1
    lake.parquet(kv, s"bucket-0/kv-late-$newId.parquet")
    lake.avro(Seq((0, s"kv-late-$newId.parquet")).toDF("_KIND", "_fn")
      .select(col("_KIND"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      s"manifest/m-late-$newId.avro")
    lake.avro(Seq(s"m-late-$newId.avro").toDF("_FILE_NAME"),
      s"manifest/ml-late-$newId.avro")
    Files.writeString(Paths.get(root, "snapshot", s"snapshot-$newId"),
      s"""{"version":3,"id":$newId,"schemaId":0,
         |"baseManifestList":"$baseList",
         |"deltaManifestList":"ml-late-$newId.avro",
         |"commitKind":"APPEND","commitUser":"t",
         |"commitIdentifier":$newId,"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"),
      newId.toString)
  }

  /** Patch `root`'s snapshot-2 with an index manifest holding one
    * entry of `indexType`; when `positions` is set, a REAL v1 DV
    * index file kills those kv0.parquet row ordinals (`version` /
    * `magic` / `breakCrc` / `declaredCard` mangle the framing for the
    * refusal rows). */
  private def withIndex(name: String, indexType: String,
                        positions: Option[Seq[Int]] = None,
                        version: Int = 1, magic: Int = 1581511376,
                        breakCrc: Boolean = false,
                        declaredCard: Long = -1L): String = {
    import spark.implicits._
    val root = pkFixture(name)
    val blobLen: Int = positions.map { ps =>
      Files.createDirectories(Paths.get(root, "index"))
      val bmp = new org.roaringbitmap.RoaringBitmap()
      ps.foreach(bmp.add)
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(bos)
      dos.writeInt(magic)
      bmp.serialize(dos)
      dos.flush()
      val blob = bos.toByteArray
      val crc = new java.util.zip.CRC32
      crc.update(blob)
      val out = new java.io.DataOutputStream(
        new java.io.FileOutputStream(s"$root/index/index-x-0"))
      out.writeByte(version)
      out.writeInt(blob.length)
      out.write(blob)
      out.writeInt(crc.getValue.toInt + (if (breakCrc) 1 else 0))
      out.close()
      blob.length
    }.getOrElse(0)
    val entry = Seq((0, indexType, "index-x-0"))
      .toDF("_KIND", "_it", "_fn")
    val withRanges = positions match {
      case None => entry.select(col("_KIND"),
        struct(col("_it").as("_INDEX_TYPE"),
          col("_fn").as("_FILE_NAME")).as("_INDEX_FILE"))
      case Some(ps) => entry.select(col("_KIND"),
        struct(col("_it").as("_INDEX_TYPE"),
          col("_fn").as("_FILE_NAME"),
          array(struct(lit("kv0.parquet").as("_FILE_NAME"),
            lit(1).as("_OFFSET"), lit(blobLen).as("_LENGTH"),
            lit(if (declaredCard >= 0) declaredCard else ps.size.toLong)
              .as("_CARDINALITY")))
            .as("_DELETIONS_VECTORS_RANGES")).as("_INDEX_FILE"))
    }
    LakeFiles.Local(root).avro(withRanges, s"manifest/idx-$name.avro")
    val snapPath = java.nio.file.Paths.get(root, "snapshot",
      "snapshot-2")
    val snapJson = java.nio.file.Files.readString(snapPath)
    java.nio.file.Files.writeString(snapPath, snapJson.replace(
      "\"commitKind\"",
      s""""indexManifest":"idx-$name.avro","commitKind""""))
    root
  }

  test("deletion vectors kill rows before the merge; HASH index " +
    "entries are ignorable") {
    // kv0 = ids 0..4 (+I, v=id*3); kv1 = +U ids 1,2 → 100, -D id 0.
    // Without a DV the latest read is (1,100),(2,100),(3,9),(4,12).
    // The DV kills kv0's id-3 row (no -D exists for it anywhere) and
    // the superseded id-1 base row (merge must agree with the DV).
    val probe = pkFixture("pkdvprobe")
    val pos = spark.read.parquet(s"$probe/bucket-0/kv0.parquet")
      .select(col("_metadata.row_index"))
      .where(col("id").isin(1, 3))
      .collect().map(_.getLong(0).toInt).toSeq.sorted
    val root = withIndex("pkdv", "DELETION_VECTORS", Some(pos))
    val got = PaimonLite.read(spark, root)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 100L), (2L, 100L), (4L, 12L)))
    // HASH (dynamic-bucket writer index) is writer-side only — reads fine
    assert(PaimonLite.read(spark, withIndex("pkhashidx", "HASH"))
      .count() > 0)
  }

  test("unknown index-file formats refuse loudly (version, magic, " +
    "checksum, cardinality, unknown kinds, missing ranges)") {
    def failing(name: String, mangle: String => String): String = {
      val e = intercept[Exception] {
        PaimonLite.read(spark, mangle(name)).collect()
      }
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    }
    val pos = Seq(0, 1)
    assert(failing("pkdvver",
      withIndex(_, "DELETION_VECTORS", Some(pos), version = 2))
      .contains("version 2"))
    assert(failing("pkdvmag",
      withIndex(_, "DELETION_VECTORS", Some(pos), magic = 99))
      .contains("magic"))
    assert(failing("pkdvcrc",
      withIndex(_, "DELETION_VECTORS", Some(pos), breakCrc = true))
      .contains("checksum"))
    assert(failing("pkdvcard",
      withIndex(_, "DELETION_VECTORS", Some(pos), declaredCard = 7L))
      .contains("declares 7"))
    // an index TYPE this reader cannot classify refuses at plan time
    val e = intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, withIndex("pkdvbsi", "BSI"))
    }
    assert(e.getMessage.contains("BSI"))
    // a DELETION_VECTORS entry with no ranges cannot locate bitmaps
    val e2 = intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, withIndex("pkdvnorng",
        "DELETION_VECTORS"))
    }
    assert(e2.getMessage.contains("_DELETIONS_VECTORS_RANGES"))
    // DV-enabled tables cannot stream (ADDs never see DV kills)
    val e3 = intercept[IllegalStateException] {
      PaimonLite.deltaAdds(spark, pkFixture("pkdvstream",
        options = """{"deletion-vectors.enabled":"true"}"""), 2L)
    }
    assert(e3.getMessage.contains("deletion-vectors.enabled"))
  }

  test("full-compaction changelog: the merge diff of consecutive " +
    "snapshots — ±U pairs for changed keys, -D for vanished, +I " +
    "against an absent previous snapshot; unchanged keys silent") {
    val root = pkFixture("pkfc",
      options = """{"changelog-producer":"full-compaction"}""")
    val got = PaimonLite.readChangelog(spark, root, 2L)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(got == Seq(("+U", 1L, 100L), ("+U", 2L, 100L),
      ("-D", 0L, 0L), ("-U", 1L, 3L), ("-U", 2L, 6L)), got.toString)
    // snapshot 1 diffs against EMPTY (no snapshot-0): everything +I
    val first = PaimonLite.readChangelog(spark, root, 1L)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(first == (0L to 4L).map(i => ("+I", i, i * 3)).toSeq,
      first.toString)
  }

  test("an unknown merge engine refuses loudly") {
    val e = intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, pkFixture("pkeng",
        options = """{"merge-engine":"made-up-engine"}"""))
    }
    assert(e.getMessage.contains("made-up-engine"))
  }

  test("PK data file without KeyValue columns refuses loudly") {
    val root = pkFixture("pkbad")
    // overwrite kv0 with a PLAIN (id, v) parquet — no system columns
    LakeFiles.Local(root).parquet(
      spark.range(0, 5).select(col("id"), (col("id") * 3).as("v")),
      "bucket-0/kv0.parquet")
    val e = intercept[IllegalStateException] {
      PaimonLite.read(spark, root, Some(1L))
    }
    assert(e.getMessage.contains("_KEY_id"))
  }

  test("streaming a primary-key table refuses loudly") {
    val root = pkFixture("pkstream")
    val e = intercept[IllegalStateException] {
      new org.apache.spark.sql.graftstream.PaimonStreamSource(
        spark, root, None)
    }
    assert(e.getMessage.contains("APPEND-ONLY"))
  }

  test("BinaryRowCodec round-trips nulls, compact and long strings, " +
    "integrals; truncated rows refuse") {
    import org.apache.spark.sql.types._
    import graft.sources.BinaryRowCodec
    val types = Seq(LongType, IntegerType, StringType, StringType,
      BooleanType, ShortType, ByteType)
    val vals: Seq[Any] = Seq(42L, null, "abc",
      "a-string-longer-than-7-bytes", true, 7.toShort, 3.toByte)
    val bytes = BinaryRowCodec.encode(vals, types)
    assert(BinaryRowCodec.decode(bytes, types, "t") == vals)
    // exactly-7-byte string stays compact; 8 bytes goes to the var part
    for (s <- Seq("1234567", "12345678", "")) {
      val t = Seq(StringType)
      assert(BinaryRowCodec.decode(
        BinaryRowCodec.encode(Seq(s), t), t, "t") == Seq(s))
    }
    val nulls = Seq[Any](null, null, null, null, null, null, null)
    assert(BinaryRowCodec.decode(
      BinaryRowCodec.encode(nulls, types), types, "t") == nulls)
    intercept[IllegalStateException] {
      BinaryRowCodec.decode(bytes.take(10), types, "t")
    }
    // unsupported type refuses both ways
    intercept[IllegalArgumentException] {
      BinaryRowCodec.encode(Seq(BigDecimal(1)), Seq(DecimalType(20, 2)))
    }
    intercept[IllegalStateException] {
      BinaryRowCodec.decode(bytes, Seq(DecimalType(20, 2)), "t")
    }
    // a primitive slot with junk in its padding bytes refuses — the
    // published layout zero-pads fixed-width slots, so non-zero high
    // bytes mean a mis-guessed layout, never a value to mis-read
    val intRow = BinaryRowCodec.encode(Seq(7), Seq(IntegerType))
    val off = intRow.length - 8 // single int field's slot
    intRow(off + 6) = 0x5a
    val e = intercept[IllegalStateException] {
      BinaryRowCodec.decode(intRow, Seq(IntegerType), "t")
    }
    assert(e.getMessage.contains("padding"))
    // a LONG reinterpreted as INT refuses the same way (high bytes)
    val longRow = BinaryRowCodec.encode(Seq(1L << 40), Seq(LongType))
    intercept[IllegalStateException] {
      BinaryRowCodec.decode(longRow, Seq(IntegerType), "t")
    }
  }

  /** Partitioned append-only table (p STRING): p=a holds ids 0..4,
    * the DEFAULT (null) partition ids 5..7, and p=`a:b` (needs path
    * escaping → `p=a%3Ab/`) ids 8..9. Data files carry only (id, v);
    * partition values ride the manifest's _PARTITION BinaryRows. */
  private def partFixture(name: String,
                          withNull: Boolean = true): String = {
    import graft.sources.BinaryRowCodec
    import org.apache.spark.sql.types.StringType
    val root = s"/tmp/graft_paimonspec/$name"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest"))
      Files.createDirectories(Paths.get(root, d))
    val df = spark.range(0, 10).select(col("id"), (col("id") * 3).as("v"))
    def one(filter: org.apache.spark.sql.Column, dirName: String): Unit = {
      Files.createDirectories(Paths.get(root, s"p=$dirName", "bucket-0"))
      LakeFiles.Local(root).parquet(
        df.filter(filter),
        s"p=$dirName/bucket-0/data.parquet")
    }
    one(col("id") < 5, "a")
    one(col("id") >= 5 && col("id") < 8,
      if (withNull) "__DEFAULT_PARTITION__" else "b")
    one(col("id") >= 8, "a%3Ab")
    val lake = LakeFiles.Local(root)
    import spark.implicits._
    lake.avro(Seq[Any]("a", if (withNull) null else "b", "a:b")
      .map(v => (0, "data.parquet",
        BinaryRowCodec.encode(Seq(v), Seq(StringType))))
      .toDF("_KIND", "_fn", "_PARTITION")
      .select(col("_KIND"), col("_PARTITION"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      "manifest/m-part.avro")
    lake.avro(Seq.empty[String].toDF("_FILE_NAME"), "manifest/ml-e.avro")
    lake.avro(Seq("m-part.avro").toDF("_FILE_NAME"), "manifest/ml-p.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"id","type":"BIGINT"},
        | {"id":1,"name":"v","type":"BIGINT"},
        | {"id":2,"name":"p","type":"STRING"}],
        |"highestFieldId":2,"partitionKeys":["p"],
        |"primaryKeys":[],"options":{}}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      """{"version":3,"id":1,"schemaId":0,
        |"baseManifestList":"ml-e.avro","deltaManifestList":"ml-p.avro",
        |"commitKind":"APPEND","commitUser":"t","commitIdentifier":1,
        |"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
    root
  }

  test("partitioned append-only read: BinaryRow values attach as " +
    "typed columns; null takes the default dir; specials escape") {
    import spark.implicits._
    val root = partFixture("partread")
    val got = PaimonLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "p"))
    val rows = got.select("id", "p").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(rows == ((0L to 4L).map(i => (i, Some("a"))) ++
      (5L to 7L).map(i => (i, None)) ++
      (8L to 9L).map(i => (i, Some("a:b")))))
    // value columns still read from the files
    assert(got.agg(sum(col("v"))).head().getLong(0) ==
      (0L to 9L).map(_ * 3).sum)
  }

  test("partitioned PK merge runs per partition on the trimmed key") {
    import graft.sources.BinaryRowCodec
    import org.apache.spark.sql.types.StringType
    import spark.implicits._
    val root = "/tmp/graft_paimonspec/partpk"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest"))
      Files.createDirectories(Paths.get(root, d))
    // both partitions hold trimmed keys 0 and 1; only p=a updates id 1
    def kv(rows: Seq[(Long, Long)], seq: Long, kind: Int) =
      rows.toDF("k", "vv").select(col("k").as("_KEY_id"),
        lit(seq).as("_SEQUENCE_NUMBER"),
        lit(kind).cast("tinyint").as("_VALUE_KIND"),
        col("k").as("id"), col("vv").as("v"))
    def writeKv(df: org.apache.spark.sql.DataFrame, st: String,
                name: String): Unit = {
      Files.createDirectories(Paths.get(root, s"p=$st", "bucket-0"))
      LakeFiles.Local(root).parquet(df, s"p=$st/bucket-0/$name")
    }
    writeKv(kv(Seq((0L, 1L), (1L, 2L)), 1L, 0), "a", "kv0.parquet")
    writeKv(kv(Seq((1L, 100L)), 2L, 2), "a", "kv1.parquet")
    writeKv(kv(Seq((0L, 10L), (1L, 20L)), 1L, 0), "b", "kv0.parquet")
    val lake = LakeFiles.Local(root)
    def enc(v: String) = BinaryRowCodec.encode(Seq(v), Seq(StringType))
    lake.avro(Seq((0, "kv0.parquet", enc("a")), (0, "kv1.parquet", enc("a")),
      (0, "kv0.parquet", enc("b")))
      .toDF("_KIND", "_fn", "_PARTITION")
      .select(col("_KIND"), col("_PARTITION"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      "manifest/m-kv.avro")
    lake.avro(Seq.empty[String].toDF("_FILE_NAME"), "manifest/ml-e.avro")
    lake.avro(Seq("m-kv.avro").toDF("_FILE_NAME"), "manifest/ml-kv.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"id","type":"BIGINT"},
        | {"id":1,"name":"v","type":"BIGINT"},
        | {"id":2,"name":"p","type":"STRING"}],
        |"highestFieldId":2,"partitionKeys":["p"],
        |"primaryKeys":["p","id"],"options":{}}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      """{"version":3,"id":1,"schemaId":0,
        |"baseManifestList":"ml-e.avro","deltaManifestList":"ml-kv.avro",
        |"commitKind":"APPEND","commitUser":"t","commitIdentifier":1,
        |"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
    val got = PaimonLite.read(spark, root)
      .select("id", "v", "p").as[(Long, Long, String)]
      .collect().sortBy(r => (r._3, r._1)).toSeq
    // id 1 updates ONLY in p=a — a cross-partition merge would
    // collapse the two partitions' rows onto one key
    assert(got == Seq((0L, 1L, "a"), (1L, 100L, "a"),
      (0L, 10L, "b"), (1L, 20L, "b")))
  }

  test("partition filters prune non-matching partition groups at " +
    "plan time") {
    val root = partFixture("partprune")
    val df = PaimonLite.read(spark, root)
    // partition values attach as literal columns per group, so the
    // predicate constant-folds each union branch and only the
    // matching group's scan survives optimization
    val plan = df.filter(col("p") === "a")
      .queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(plan).length == 1,
      s"expected exactly one surviving scan:\n$plan")
    assert(df.filter(col("p") === "a").count() == 5)
  }

  test("partitioned manifests without _PARTITION refuse loudly") {
    val e = intercept[IllegalStateException] {
      PaimonLite.snapshot(spark,
        fixture("part", partitionKeys = """["v"]"""))
    }
    assert(e.getMessage.contains("_PARTITION"))
  }

  test("unsupported partition key type refuses loudly") {
    val root = fixture("parttype", partitionKeys = """["v"]""")
    val schemaFile = Paths.get(root, "schema", "schema-0")
    Files.writeString(schemaFile, Files.readString(schemaFile)
      .replace(""""name":"v","type":"BIGINT"""",
        """"name":"v","type":"DOUBLE""""))
    val e = intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("partition key v"))
  }

  test("partitioned changelog read decodes _PARTITION and attaches " +
    "typed partition columns per group") {
    import graft.sources.BinaryRowCodec
    import org.apache.spark.sql.types.StringType
    import spark.implicits._
    val root = s"/tmp/graft_paimonspec/partcl"
    rm(new java.io.File(root))
    for (d <- Seq("snapshot", "schema", "manifest"))
      Files.createDirectories(Paths.get(root, d))
    val lake = LakeFiles.Local(root)
    // changelog KeyValue files under their partition dirs: p=a holds
    // an insert and a delete, p=b an update-after
    def cl(pv: String, rows: Seq[(Int, Long, Long)]): Unit = {
      Files.createDirectories(Paths.get(root, s"p=$pv", "bucket-0"))
      lake.parquet(
        rows.toDF("_VALUE_KIND", "id", "v"),
        s"p=$pv/bucket-0/cl.parquet")
    }
    cl("a", Seq((0, 0L, 1L), (3, 1L, 2L)))
    cl("b", Seq((2, 0L, 9L)))
    lake.avro(Seq("a", "b").map(v => (0, "cl.parquet",
      BinaryRowCodec.encode(Seq(v), Seq(StringType))))
      .toDF("_KIND", "_fn", "_PARTITION")
      .select(col("_KIND"), col("_PARTITION"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      "manifest/m-cl.avro")
    lake.avro(Seq.empty[String].toDF("_FILE_NAME"), "manifest/ml-e.avro")
    lake.avro(Seq("m-cl.avro").toDF("_FILE_NAME"), "manifest/ml-cl.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[
        | {"id":0,"name":"id","type":"BIGINT"},
        | {"id":1,"name":"v","type":"BIGINT"},
        | {"id":2,"name":"p","type":"STRING"}],
        |"highestFieldId":2,"partitionKeys":["p"],
        |"primaryKeys":["p","id"],"options":{}}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      """{"version":3,"id":1,"schemaId":0,
        |"baseManifestList":"ml-e.avro","deltaManifestList":"ml-e.avro",
        |"changelogManifestList":"ml-cl.avro",
        |"commitKind":"APPEND","commitUser":"t","commitIdentifier":1,
        |"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
    val got = PaimonLite.readChangelog(spark, root, 1L)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "p", "_row_kind"))
    val rows = got.select("p", "id", "v", "_row_kind")
      .as[(String, Long, Long, String)].collect().sorted.toSeq
    assert(rows == Seq(("a", 0L, 1L, "+I"), ("a", 1L, 2L, "-D"),
      ("b", 0L, 9L, "+U")))
  }

  test("ORC data files (Paimon's default format) read natively") {
    import spark.implicits._
    val root = fixture("orc", fileExt = "orc")
    val got = PaimonLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.select("id").as[Long].collect().sorted.toSeq == (5L to 12L))
  }

  test("unknown data-file extension refuses loudly") {
    val e = intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, fixture("avro", fileExt = "avro"))
    }
    assert(e.getMessage.contains("neither parquet nor orc"))
  }

  test("a snapshot mixing parquet and orc refuses loudly") {
    val root = fixture("mixed")
    // rewrite f2 as real ORC under an .orc name and re-list it
    LakeFiles.stage(
      spark.range(10, 13).select(col("id"), (col("id") * 3).as("v")),
      "orc", new java.io.File(s"$root/_tmpm"),
      new java.io.File(s"$root/bucket-0/f2.orc"))
    import spark.implicits._
    val lake = LakeFiles.Local(root)
    lake.avro(Seq((0, "f2.orc")).toDF("_KIND", "_fn")
      .select(col("_KIND"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      "manifest/m-orc.avro")
    lake.avro(Seq("m-add01.avro", "m-orc.avro").toDF("_FILE_NAME"),
      "manifest/ml-mixed.avro")
    Files.writeString(Paths.get(root, "snapshot", "snapshot-3"),
      """{"version":3,"id":3,"schemaId":0,
        |"baseManifestList":"ml-empty.avro",
        |"deltaManifestList":"ml-mixed.avro",
        |"commitKind":"APPEND","commitUser":"t","commitIdentifier":3,
        |"timeMillis":0}""".stripMargin)
    val e = intercept[IllegalStateException] {
      PaimonLite.read(spark, root, Some(3L)).collect()
    }
    assert(e.getMessage.contains("mixed parquet+orc"))
  }

  test("foreign scheme in a manifest-list name refuses loudly") {
    val root = fixture("scheme")
    // snapshot 3 whose delta manifest list lives on s3://
    Files.writeString(Paths.get(root, "snapshot", "snapshot-3"),
      """{"version":3,"id":3,"schemaId":0,
        |"baseManifestList":"ml-empty.avro",
        |"deltaManifestList":"s3://bucket/ml.avro",
        |"commitKind":"APPEND","commitUser":"t","commitIdentifier":3,
        |"timeMillis":0}""".stripMargin)
    val e = intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, root, Some(3L))
    }
    assert(e.getMessage.contains("s3://"))
  }

  test("missing table / snapshot / schema refuse loudly") {
    intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, "/tmp/graft_paimonspec/nope")
    }
    val root = fixture("noschema")
    rm(new java.io.File(s"$root/schema/schema-0"))
    val e = intercept[IllegalStateException] {
      PaimonLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("schema-0"))
  }

  test("empty snapshot reads as a typed empty frame") {
    val root = fixture("empty")
    Files.writeString(Paths.get(root, "snapshot", "snapshot-4"),
      """{"version":3,"id":4,"schemaId":0,
        |"baseManifestList":"ml-empty.avro",
        |"deltaManifestList":"ml-empty.avro",
        |"commitKind":"APPEND","commitUser":"t","commitIdentifier":4,
        |"timeMillis":0}""".stripMargin)
    val got = PaimonLite.read(spark, root, Some(4L))
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.count() == 0)
  }

  test("a LATEST hint left one snapshot behind (a crash between " +
    "publishing snapshot-<N+1> and moving the hint) is probed past: " +
    "readers see the newest snapshot and the next commit lands on top") {
    import spark.implicits._
    val root = fixture("stalehint")
    val before = PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(PaimonLite.compact(spark, root) == 3L)
    val hint = Paths.get(root, "snapshot", "LATEST")
    Files.writeString(hint, "2")
    val snap = PaimonLite.snapshot(spark, root)
    assert(snap.snapshotId == 3L && snap.files.size == 1, snap)
    assert(PaimonLite.latestSnapshotId(spark, root) == 3L)
    assert(PaimonLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq == before)
    assert(PaimonLite.compact(spark, root) == 4L)
    assert(Files.readString(hint).trim == "4")
  }

  test("upsert opens the snapshot JSON and its schema once") {
    import spark.implicits._
    val root = pkFixture("opens")
    val opened = CountingLocalFs.opens(spark)(assert(
      PaimonLite.upsert(spark, root, Seq((3L, 7L)).toDF("id", "v")) == 3L))
    for (f <- Seq("snapshot/snapshot-2", "schema/schema-0"))
      assert(opened.count(_ == s"$root/$f") == 1, opened)
    assert(PaimonLite.read(spark, root).filter(col("id") === 3L)
      .select("v").as[Long].collect().toSeq == Seq(7L))
  }
}
