package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IcebergLite
import graft.sources.LakeFiles
import graft.sources.LakeFiles.{jstr, rm}

/** IcebergLite contract: metadata-version resolution (version-hint +
  * highest-vN fallback), snapshot selection, tombstone-manifest
  * replay, and every LOUD-failure path — unsupported format-version,
  * nested types, delete manifests/files, unknown snapshot. The happy
  * path against real data is q391/q392's DuckDB oracle. */
class IcebergSpec extends AnyFunSuite {
  import TestSession._

  private val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Table with files f0.parquet (ids 0..4) and f1.parquet (ids 5..9),
    * snap 1 = f0+f1 added, snap 2 = f0 tombstoned + f1 existing,
    * current = 2, metadata at v3 named by version-hint. */
  private def fixture(name: String,
                      formatVersion: Int = 2,
                      fieldType: String = "\"long\"",
                      mlContent: Int = 0,
                      dfContent: Int = 0,
                      hint: Boolean = true): String = {
    val root = s"/tmp/graft_icespec/$name"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    val df = spark.range(0, 10).select(col("id"), (col("id") * 3).as("v"))
    def one(filter: org.apache.spark.sql.Column, out: String): Unit = {
      LakeFiles.Local(root).parquet(
        IcebergLite.stampFieldIds(df.filter(filter),
          Map("id" -> 1, "v" -> 2)),
        out)
    }
    one(col("id") < 5, "data/f0.parquet")
    one(col("id") >= 5, "data/f1.parquet")
    val lake = LakeFiles.Local(root)
    import spark.implicits._
    def manifest(rel: String, entries: (Int, String)*): Unit =
      lake.avro(entries.toSeq.toDF("status", "file_path")
        .select(col("status"),
          struct(col("file_path"), lit(dfContent).as("content"))
            .as("data_file")), rel)
    manifest("metadata/m1.avro", (1, "data/f0.parquet"),
      (1, "data/f1.parquet"))
    manifest("metadata/m2del.avro", (2, "data/f0.parquet"))
    manifest("metadata/m2b.avro", (0, "data/f1.parquet"))
    def mlist(rel: String, paths: String*): Unit =
      lake.avro(paths.toSeq.toDF("manifest_path")
        .select(col("manifest_path"), lit(mlContent).as("content")), rel)
    mlist("metadata/snap-1.avro", "metadata/m1.avro")
    mlist("metadata/snap-2.avro", "metadata/m2del.avro",
      "metadata/m2b.avro")
    val meta =
      s"""{"format-version":$formatVersion,"location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"id","required":false,"type":$fieldType},
         |  {"id":2,"name":"v","required":false,"type":"long"}]}],
         |"current-snapshot-id":2,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"},
         | {"snapshot-id":2,"manifest-list":"metadata/snap-2.avro"}]}"""
        .stripMargin
    Files.writeString(Paths.get(root, "metadata", "v3.metadata.json"), meta)
    if (hint)
      Files.writeString(
        Paths.get(root, "metadata", "version-hint.text"), "3")
    root
  }

  test("current snapshot replays tombstone manifest: f0 dropped") {
    val root = fixture("happy")
    val snap = IcebergLite.snapshot(spark, root)
    assert(snap.snapshotId == 2L)
    assert(snap.files == Seq(s"$root/data/f1.parquet"))
    val got = IcebergLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.agg(min(col("id")), count(lit(1))).head().toSeq ==
      Seq(5L, 5L))
  }

  test("snapshot-id selection serves the pre-delete file set") {
    val root = fixture("snapsel")
    assert(IcebergLite.read(spark, root, Some(1L)).count() == 10)
    val e = intercept[IllegalArgumentException] {
      IcebergLite.snapshot(spark, root, Some(42L))
    }
    assert(e.getMessage.contains("snapshot 42"))
  }

  test("highest-vN fallback resolves without version-hint") {
    val root = fixture("nohint", hint = false)
    // decoy earlier version that points nowhere valid
    Files.writeString(
      Paths.get(root, "metadata", "v1.metadata.json"),
      """{"format-version":9}""")
    assert(IcebergLite.snapshot(spark, root).snapshotId == 2L)
  }

  test("format-version 4 refuses loudly (v3 reads — see the " +
    "deletion-vector test)") {
    val root = fixture("fv4", formatVersion = 4)
    val e = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("format-version 4"))
  }

  test("v3 initial-default: files written BEFORE the column add read " +
    "the default; files carrying the column read stored values " +
    "(nulls included)") {
    import spark.implicits._
    val root = fixture("initdefault", formatVersion = 3)
    // add column w (id 3) with initial-default 42 to the schema
    val metaPath = Paths.get(root, "metadata", "v3.metadata.json")
    Files.writeString(metaPath, Files.readString(metaPath).replace(
      """{"id":2,"name":"v","required":false,"type":"long"}]""",
      """{"id":2,"name":"v","required":false,"type":"long"},
        |  {"id":3,"name":"w","required":false,"type":"long",
        |   "initial-default":42}]""".stripMargin))
    // snapshot 1 = f0+f1, both written pre-add → w reads 42 everywhere
    val got1 = IcebergLite.read(spark, root, snapshotId = Some(1L))
      .select("id", "w").as[(Long, Option[Long])]
      .collect().sorted.toSeq
    assert(got1 == (0L to 9L).map(i => (i, Some(42L))))
    // rewrite f1 WITH w stored (id*10; id 5 stores an explicit NULL
    // that must SURVIVE — the default is not a coalesce)
    LakeFiles.Local(root).parquet(
      IcebergLite.stampFieldIds(
        spark.range(5, 10).select(col("id"), (col("id") * 3).as("v"),
          when(col("id") === 5, lit(null).cast("long"))
            .otherwise(col("id") * 10).as("w")),
        Map("id" -> 1, "v" -> 2, "w" -> 3)),
      "data/f1.parquet")
    val got2 = IcebergLite.read(spark, root, snapshotId = Some(1L))
      .select("id", "w").as[(Long, Option[Long])]
      .collect().sorted.toSeq
    assert(got2 == (0L to 4L).map(i => (i, Some(42L))) ++
      Seq((5L, None)) ++ (6L to 9L).map(i => (i, Some(i * 10))))
  }

  test("nested column type refuses loudly") {
    val root = fixture("nested",
      fieldType = """{"type":"list","element":"long"}""")
    val e = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("non-primitive"))
  }

  test("content placement mismatches refuse loudly") {
    // a manifest-list row claiming DELETE content over data entries
    val e1 = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, fixture("delml", mlContent = 1))
    }
    assert(e1.getMessage.contains("content=0"))
    // a DATA manifest whose entries carry delete content
    val e2 = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, fixture("deldf", dfContent = 1))
    }
    assert(e2.getMessage.contains("content=1"))
  }

  test("equality delete without equality_ids refuses loudly") {
    // content=2 entries whose manifest rows carry no equality_ids
    // column — the reader cannot know which columns the rows match on
    val e = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark,
        fixture("eqdel", mlContent = 1, dfContent = 2))
    }
    assert(e.getMessage.contains("equality_ids"))
  }

  /** Extends `fixture(name)` with snapshot 3: an equality-delete file
    * (content=2 on field `fieldId`) over `delDf`'s rows, plus an
    * optional re-insert data file, with explicit per-row sequence
    * numbers in the manifest list (data seq, delete seq). */
  private def addEqDelete(root: String, delDf: org.apache.spark.sql.DataFrame,
                          fieldId: Int, dataSeq: Long, delSeq: Long,
                          reinsert: Option[org.apache.spark.sql.DataFrame] =
                            None, reinsertSeq: Long = 0L): Unit = {
    import spark.implicits._
    val lake = LakeFiles.Local(root)
    lake.parquet(IcebergLite.stampFieldIds(delDf,
      delDf.columns.map(_ -> fieldId).toMap), "data/eqdel.parquet")
    def manifest(rel: String, path: String, content: Int,
                 eqIds: Seq[Int]): Unit =
      lake.avro(Seq((1, path)).toDF("status", "file_path")
        .select(col("status"),
          struct(col("file_path"), lit(content).as("content"),
            (if (eqIds.isEmpty) lit(null).cast("array<int>")
             else array(eqIds.map(lit(_)): _*)).as("equality_ids"))
            .as("data_file")), rel)
    manifest("metadata/m-eq.avro", "data/eqdel.parquet", 2, Seq(fieldId))
    var mlRows = Seq(
      ("metadata/m1.avro", 0, dataSeq),
      ("metadata/m-eq.avro", 1, delSeq))
    reinsert.foreach { r =>
      lake.parquet(IcebergLite.stampFieldIds(r,
        Map("id" -> 1, "v" -> 2)), "data/reins.parquet")
      manifest("metadata/m-reins.avro", "data/reins.parquet", 0, Nil)
      mlRows = mlRows :+ (("metadata/m-reins.avro", 0, reinsertSeq))
    }
    lake.avro(mlRows.toDF("manifest_path", "content", "sequence_number"),
      "metadata/snap-3.avro")
    val meta = Files.readString(
      Paths.get(root, "metadata", "v3.metadata.json"))
      .replace(""""current-snapshot-id":2""", """"current-snapshot-id":3""")
      .replace(""" {"snapshot-id":1""",
        """ {"snapshot-id":3,"manifest-list":"metadata/snap-3.avro"},
          | {"snapshot-id":1""".stripMargin)
    Files.writeString(Paths.get(root, "metadata", "v4.metadata.json"), meta)
    Files.writeString(Paths.get(root, "metadata", "version-hint.text"), "4")
  }

  test("equality deletes kill matching keys, strict-seq spares re-inserts") {
    import spark.implicits._
    val root = fixture("eqbehave")
    // delete ids 0,1,2,7 at seq 5; data at seq 1; re-insert ids 1,7
    // (v flipped to 99) at THE DELETE'S OWN seq 5 — strictly-lower
    // ordering must keep them
    addEqDelete(root, Seq(0L, 1L, 2L, 7L).toDF("id"), fieldId = 1,
      dataSeq = 1L, delSeq = 5L,
      reinsert = Some(Seq((1L, 99L), (7L, 99L)).toDF("id", "v")),
      reinsertSeq = 5L)
    val got = IcebergLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    val survivors = (3L to 9L).filter(i => i != 7L).map(i => (i, i * 3))
    assert(got == (survivors ++ Seq((1L, 99L), (7L, 99L))).sorted)
    // output schema is unchanged by the seq/anti-join plumbing
    assert(IcebergLite.read(spark, root).schema.fieldNames.toSeq ==
      Seq("id", "v"))
  }

  test("equality delete matches null keys null-safely") {
    import spark.implicits._
    val root = fixture("eqnull")
    // rewrite f1 to carry a NULL id row, re-listing it as snap 3 data
    LakeFiles.Local(root).parquet(
      IcebergLite.stampFieldIds(
        spark.range(0, 1).select(lit(null).cast("long").as("id"),
          lit(777L).as("v"))
          .union(spark.read.parquet(s"$root/data/f1.parquet")),
        Map("id" -> 1, "v" -> 2)),
      "data/f1.parquet")
    // delete (null) at seq 5 over data at seq 1: the null-id row dies
    addEqDelete(root,
      Seq(Option.empty[Long]).toDF("id"), fieldId = 1,
      dataSeq = 1L, delSeq = 5L)
    val got = IcebergLite.read(spark, root)
    assert(got.filter(col("id").isNull).count() == 0)
    assert(got.count() == 10)
  }

  test("equality delete without sequence numbers refuses loudly") {
    import spark.implicits._
    val root = fixture("eqnoseq")
    addEqDelete(root, Seq(1L).toDF("id"), fieldId = 1,
      dataSeq = 1L, delSeq = 5L)
    // strip sequence_number from the manifest list
    val ml = spark.read.format(avroFmt)
      .load(s"$root/metadata/snap-3.avro")
      .select("manifest_path", "content")
    LakeFiles.Local(root).avro(ml, "metadata/snap-3.avro")
    val e = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("sequence number"))
  }

  test("equality-delete WRITE: the committed delete file kills " +
    "matching keys through our own reader, sequences stamp " +
    "max-live+1, history travels, and seq-less tables refuse") {
    import spark.implicits._
    // a table whose manifests resolve no sequence numbers cannot
    // ORDER the delete — the WRITE refuses (committing anyway would
    // just make every read refuse)
    val r0 = fixture("eqwrite0")
    val e0 = intercept[IllegalStateException] {
      IcebergLite.eqDelete(spark, r0, Seq(1L).toDF("id"))
    }
    assert(e0.getMessage.contains("sequence"))
    // a sequence-correct table (data at seq 1, an empty delete at
    // seq 2 — the no-op delete just seq-stamps the fixture)
    val root = fixture("eqwrite")
    addEqDelete(root, Seq.empty[Long].toDF("id"), fieldId = 1,
      dataSeq = 1L, delSeq = 2L)
    assert(IcebergLite.read(spark, root).count() == 10)
    val newId = IcebergLite.eqDelete(spark, root,
      Seq(0L, 7L).toDF("id"))
    assert(newId == 4L)
    val got = IcebergLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got == (0L to 9L).filterNot(Set(0L, 7L))
      .map(i => (i, i * 3)), got.toString)
    // the written delete carries seq 3 = max(1, 2) + 1
    assert(IcebergLite.snapshot(spark, root).eqDeletes
      .exists(d => d.seq == 3L &&
        d.path.endsWith("eqdel-4.parquet")))
    // history travels: the pre-delete snapshot still reads 10 rows
    assert(IcebergLite.read(spark, root, snapshotId = Some(3L))
      .count() == 10)
    // a second delete on ANOTHER column composes (v=9 is id 3)
    assert(IcebergLite.eqDelete(spark, root, Seq(9L).toDF("v")) == 5L)
    assert(IcebergLite.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 6L, 8L, 9L))
    // unknown key columns refuse
    val e1 = intercept[IllegalStateException] {
      IcebergLite.eqDelete(spark, root, Seq(1L).toDF("nope"))
    }
    assert(e1.getMessage.contains("nope"))
  }

  test("predicate DELETE commits POSITIONAL delete files (the " +
    "merge-on-read DELETE): matched view rows die by (file, ordinal), " +
    "already-dead rows never re-delete, history travels, appends " +
    "after the delete are untouched, no-match commits nothing") {
    import spark.implicits._
    val root = fixture("posdelwrite")
    addEqDelete(root, Seq.empty[Long].toDF("id"), fieldId = 1,
      dataSeq = 1L, delSeq = 2L)
    def ids(sid: Option[Long] = None): Seq[Long] =
      IcebergLite.read(spark, root, snapshotId = sid)
        .select("id").as[Long].collect().sorted.toSeq
    assert(ids() == (0L to 9L))
    // delete v > 21 (ids 8, 9)
    val d1 = IcebergLite.delete(spark, root, col("v") > 21)
    assert(d1 == 4L)
    assert(ids() == (0L to 7L))
    // the committed delete file is the spec's positional shape
    val snap = IcebergLite.snapshot(spark, root)
    assert(snap.deleteFiles.exists(_.contains("posdel-4")),
      snap.deleteFiles.toString)
    // history travels to the pre-delete view
    assert(ids(Some(3L)) == (0L to 9L))
    // a second delete COMPOSES over the resolved view: id<2 dies,
    // the already-dead 8/9 never re-match (their positions would
    // double-delete harmlessly, but the view no longer shows them)
    assert(IcebergLite.delete(spark, root, col("id") < 2) == 5L)
    assert(ids() == (2L to 7L))
    // no-match: the CURRENT snapshot, no commit
    assert(IcebergLite.delete(spark, root, col("id") > 100) == 5L)
    assert(IcebergLite.snapshotIds(spark, root).max == 5L)
    // an append AFTER the delete lives in a new file — untouched by
    // the earlier positional deletes
    assert(IcebergLite.upsertKeyed(spark, root,
      Seq((0L, 111L)).toDF("id", "v"), Seq("id")) == 6L)
    assert(ids() == (0L +: (2L to 7L)))
    // predicate UPDATE: ONE snapshot kills the matched positions and
    // appends the SET-applied rewrites — both-or-neither at any
    // snapshot
    def rows(sid: Option[Long] = None): Seq[(Long, Long)] =
      IcebergLite.read(spark, root, snapshotId = sid)
        .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    val preUpd = rows()
    assert(IcebergLite.update(spark, root, col("id") === 4,
      Map("v" -> (col("v") + 1000))) == 7L)
    assert(rows().contains((4L, 1012L)) && rows().size == preUpd.size)
    assert(rows(Some(6L)) == preUpd)
    // no-match update commits nothing; unknown SET column refuses
    assert(IcebergLite.update(spark, root, col("id") > 100,
      Map("v" -> lit(0L))) == 7L)
    assert(intercept[IllegalStateException] {
      IcebergLite.update(spark, root, col("id") === 0,
        Map("nope" -> lit(0L)))
    }.getMessage.contains("nope"))
  }

  test("upsertKeyed: the equality delete AND the appended row " +
    "versions land in ONE snapshot at ONE sequence — a reader at any " +
    "snapshot sees both or neither; new keys insert; refusals fire") {
    import spark.implicits._
    val root = fixture("upskeyed")
    addEqDelete(root, Seq.empty[Long].toDF("id"), fieldId = 1,
      dataSeq = 1L, delSeq = 2L)
    val before = IcebergLite.snapshotIds(spark, root)
    def rows(sid: Option[Long] = None): Seq[(Long, Long)] =
      IcebergLite.read(spark, root, snapshotId = sid)
        .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    val orig = rows()
    // update keys 0 and 7, insert NEW key 20 — one call, ONE snapshot
    val newId = IcebergLite.upsertKeyed(spark, root,
      Seq((0L, 100L), (7L, 700L), (20L, 2000L)).toDF("id", "v"),
      Seq("id"))
    assert(IcebergLite.snapshotIds(spark, root) == before :+ newId,
      "the keyed update must add exactly ONE snapshot")
    assert(rows() == ((1L to 9L).filterNot(_ == 7L).map(i => (i, i * 3))
      ++ Seq((0L, 100L), (7L, 700L), (20L, 2000L))).sorted)
    // atomicity's read side: the PRE-update CURRENT snapshot (3)
    // shows neither the delete nor the append
    assert(rows(Some(3L)) == orig)
    // delete and data ride the same fresh sequence (max-live 2 + 1);
    // strict data_seq < delete_seq keeps the appended versions alive
    assert(IcebergLite.snapshot(spark, root).eqDeletes
      .exists(_.seq == 3L))
    // a second keyed update composes on top
    assert(IcebergLite.upsertKeyed(spark, root,
      Seq((20L, 1L)).toDF("id", "v"), Seq("id")) == newId + 1)
    assert(rows().contains((20L, 1L)))
    // duplicate key tuples refuse — the data leg would append BOTH
    // at the delete leg's own sequence, so both would survive the
    // strict data_seq < delete_seq kill
    assert(intercept[IllegalStateException] {
      IcebergLite.upsertKeyed(spark, root,
        Seq((1L, 10L), (1L, 20L)).toDF("id", "v"), Seq("id"))
    }.getMessage.contains("DUPLICATE"))
    // keys that COLLAPSE under the schema cast are duplicates too
    assert(intercept[IllegalStateException] {
      IcebergLite.upsertKeyed(spark, root,
        Seq(("1", 10L), ("01", 20L)).toDF("id", "v"), Seq("id"))
    }.getMessage.contains("DUPLICATE"))
    // refusals: missing schema column, unknown key column
    assert(intercept[IllegalStateException] {
      IcebergLite.upsertKeyed(spark, root, Seq(1L).toDF("id"),
        Seq("id"))
    }.getMessage.contains("v"))
    assert(intercept[IllegalStateException] {
      IcebergLite.upsertKeyed(spark, root,
        Seq((1L, 1L)).toDF("id", "v"), Seq("nope"))
    }.getMessage.contains("nope"))
  }

  test("equality delete naming an unknown field id refuses loudly") {
    import spark.implicits._
    val root = fixture("eqbadid")
    addEqDelete(root, Seq(1L).toDF("id"), fieldId = 42,
      dataSeq = 1L, delSeq = 5L)
    val e = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("field id 42"))
  }

  test("positional deletes anti-join the named ordinals") {
    val root = fixture("posdel")
    // delete parquet: the two f0 rows with id < 2, ordinals read back
    // from the real file; file_path spelled file://-absolute to
    // exercise canonicalization against _metadata.file_path
    LakeFiles.Local(root).parquet(
      spark.read.parquet(s"$root/data/f0.parquet")
        .filter(col("id") < 2)
        .select(lit(s"file://$root/data/f0.parquet").as("file_path"),
          col("_metadata.row_index").as("pos")),
      "data/del0.parquet")
    import spark.implicits._
    val lake = LakeFiles.Local(root)
    lake.avro(Seq((1, "data/del0.parquet")).toDF("status", "file_path")
      .select(col("status"),
        struct(col("file_path"), lit(1).as("content")).as("data_file")),
      "metadata/m-del.avro")
    lake.avro(Seq(("metadata/m1.avro", 0), ("metadata/m-del.avro", 1))
      .toDF("manifest_path", "content"), "metadata/snap-3.avro")
    val meta = Files.readString(
      Paths.get(root, "metadata", "v3.metadata.json"))
      .replace(""""current-snapshot-id":2""",
        """"current-snapshot-id":3""")
      .replace(""" {"snapshot-id":1""",
        """ {"snapshot-id":3,"manifest-list":"metadata/snap-3.avro"},
          | {"snapshot-id":1""".stripMargin)
    Files.writeString(Paths.get(root, "metadata", "v4.metadata.json"), meta)
    Files.writeString(Paths.get(root, "metadata", "version-hint.text"), "4")
    val snap = IcebergLite.snapshot(spark, root)
    assert(snap.deleteFiles == Seq(s"$root/data/del0.parquet"))
    val got = IcebergLite.read(spark, root)
    assert(got.select("id").as[Long].collect().sorted.toSeq ==
      (2L to 9L))
    // output schema is unchanged by the anti-join plumbing
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("timestamp travel selects by timestamp-ms; unstamped/too-early " +
    "refuse loudly") {
    val root = fixture("tstravel")
    // fixture snapshots carry no timestamp-ms: refusal names the field
    val e = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, root, asOfTimestampMs = Some(1500L))
    }
    assert(e.getMessage.contains("timestamp-ms"))
    // stamp them: snap 1 @1000, snap 2 @2000
    val meta = Files.readString(
      Paths.get(root, "metadata", "v3.metadata.json"))
      .replace(""" {"snapshot-id":1,""",
        """ {"snapshot-id":1,"timestamp-ms":1000,""")
      .replace(""" {"snapshot-id":2,""",
        """ {"snapshot-id":2,"timestamp-ms":2000,""")
    Files.writeString(Paths.get(root, "metadata", "v3.metadata.json"), meta)
    assert(IcebergLite.snapshot(spark, root,
      asOfTimestampMs = Some(1500L)).snapshotId == 1L)
    assert(IcebergLite.snapshot(spark, root,
      asOfTimestampMs = Some(2000L)).snapshotId == 2L)
    val e2 = intercept[IllegalArgumentException] {
      IcebergLite.snapshot(spark, root, asOfTimestampMs = Some(999L))
    }
    assert(e2.getMessage.contains("no snapshot at or before"))
  }

  test("space-named data file: positional and equality deletes still " +
    "match through the encoded metadata path") {
    // Spark reports `_metadata.file_path` percent-ENCODED
    // (.../f%200.parquet) while manifests and delete files store the
    // raw spelling — an undecoded join key would match nothing and
    // silently resurrect every deleted row.
    val root = "/tmp/graft_icespec/spacename"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    val lake = LakeFiles.Local(root)
    import spark.implicits._
    lake.parquet(IcebergLite.stampFieldIds(
      spark.range(0, 5).select(col("id"), (col("id") * 3).as("v")),
      Map("id" -> 1, "v" -> 2)), "data/f 0.parquet")
    // positional delete: ordinal 0 of the space-named file (id 0),
    // file_path stored RAW (unencoded), as real writers spell it
    lake.parquet(Seq((s"$root/data/f 0.parquet", 0L))
      .toDF("file_path", "pos"), "data/pos.parquet")
    // equality delete on field id 1 (id): kills id 3
    lake.parquet(IcebergLite.stampFieldIds(Seq(3L).toDF("id"),
      Map("id" -> 1)), "data/eq.parquet")
    def manifest(rel: String, path: String, content: Int,
                 eqIds: Seq[Int]): Unit =
      lake.avro(Seq((1, path)).toDF("status", "file_path")
        .select(col("status"),
          struct(col("file_path"), lit(content).as("content"),
            (if (eqIds.isEmpty) lit(null).cast("array<int>")
             else array(eqIds.map(lit(_)): _*)).as("equality_ids"))
            .as("data_file")), rel)
    manifest("metadata/m-data.avro", "data/f 0.parquet", 0, Nil)
    manifest("metadata/m-pos.avro", "data/pos.parquet", 1, Nil)
    manifest("metadata/m-eq.avro", "data/eq.parquet", 2, Seq(1))
    lake.avro(Seq(("metadata/m-data.avro", 0, 1L),
      ("metadata/m-pos.avro", 1, 5L), ("metadata/m-eq.avro", 1, 5L))
      .toDF("manifest_path", "content", "sequence_number"),
      "metadata/snap-1.avro")
    val meta =
      s"""{"format-version":2,"location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"long"}]}],
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}]}"""
        .stripMargin
    Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"), meta)
    Files.writeString(Paths.get(root, "metadata", "version-hint.text"), "1")
    val got = IcebergLite.read(spark, root)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 4L))
  }

  test("equality-delete application refuses a data file with no " +
    "sequence entry instead of silently sparing it") {
    import spark.implicits._
    val root = "/tmp/graft_icespec/noseqguard"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "data"))
    val lake = LakeFiles.Local(root)
    lake.parquet(spark.range(0, 5).select(col("id"),
      (col("id") * 3).as("v")), "data/d.parquet")
    lake.parquet(IcebergLite.stampFieldIds(
      spark.range(0, 5).select(col("id")), Map("id" -> 1)),
      "data/eq.parquet")
    val data = spark.read.parquet(s"$root/data/d.parquet")
    // a snapshot whose fileSeqs MISSES the data file (e.g. a path
    // canonicalization bug): the seq-lookup join returns null and the
    // guard must throw rather than let the rows survive every delete
    val snap = IcebergLite.Snapshot(1L, data.schema,
      files = Seq(s"$root/data/d.parquet"),
      fileSeqs = Map(s"$root/data/OTHER.parquet" -> 1L),
      eqDeletes = Seq(IcebergLite.EqDelete(s"$root/data/eq.parquet", 5L,
        Seq(1 -> "id"))))
    val e = intercept[Exception] {
      IcebergLite.applyEqualityDeletes(spark, root, snap, data).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("no sequence-number entry")))
  }

  test("named refs (branch/tag) resolve through the metadata's refs " +
    "map; unknown names refuse listing what exists") {
    val root = fixture("refs")
    val meta = Files.readString(
      Paths.get(root, "metadata", "v3.metadata.json"))
      .replace(""""current-snapshot-id":2""",
        """"current-snapshot-id":2,
          |"refs":{"main":{"snapshot-id":2,"type":"branch"},
          |        "pre-delete":{"snapshot-id":1,"type":"tag"}}"""
          .stripMargin)
    Files.writeString(Paths.get(root, "metadata", "v3.metadata.json"), meta)
    assert(IcebergLite.read(spark, root,
      ref = Some("pre-delete")).count() == 10)
    assert(IcebergLite.snapshot(spark, root,
      ref = Some("main")).snapshotId == 2L)
    val e = intercept[IllegalArgumentException] {
      IcebergLite.snapshot(spark, root, ref = Some("nope"))
    }
    assert(e.getMessage.contains("no ref named 'nope'") &&
      e.getMessage.contains("pre-delete"))
    // a table with no refs at all names that condition
    val e2 = intercept[IllegalArgumentException] {
      IcebergLite.snapshot(spark, fixture("norefs"), ref = Some("x"))
    }
    assert(e2.getMessage.contains("no refs"))
    // mutually exclusive with the other travel axes
    intercept[IllegalArgumentException] {
      IcebergLite.snapshot(spark, root, snapshotId = Some(1L),
        ref = Some("main"))
    }
  }

  test("timestamp-travel ties pick the last-listed snapshot") {
    val root = fixture("tstie")
    // both snapshots share the stamp; snapshot 2 is listed later and
    // is the table state at that instant
    val meta = Files.readString(
      Paths.get(root, "metadata", "v3.metadata.json"))
      .replace(""" {"snapshot-id":1,""",
        """ {"snapshot-id":1,"timestamp-ms":1000,""")
      .replace(""" {"snapshot-id":2,""",
        """ {"snapshot-id":2,"timestamp-ms":1000,""")
    Files.writeString(Paths.get(root, "metadata", "v3.metadata.json"), meta)
    assert(IcebergLite.snapshot(spark, root,
      asOfTimestampMs = Some(1000L)).snapshotId == 2L)
  }

  test("ORC data files read natively; positional deletes over ORC " +
    "refuse loudly") {
    val root = fixture("orcdata")
    // rewrite f1 as genuine ORC and re-point snapshot 2's manifest
    LakeFiles.stage(
      spark.read.parquet(s"$root/data/f1.parquet"),
      "orc", new java.io.File(s"$root/_tmpo"),
      new java.io.File(s"$root/data/f1.orc"))
    import spark.implicits._
    val lake = LakeFiles.Local(root)
    lake.avro(Seq((0, "data/f1.orc")).toDF("status", "file_path")
      .select(col("status"),
        struct(col("file_path"), lit(0).as("content")).as("data_file")),
      "metadata/m2b.avro")
    val got = IcebergLite.read(spark, root)
    assert(got.select("id").as[Long].collect().sorted.toSeq == (5L to 9L))
    // add a positional delete over the ORC snapshot: must refuse
    // (row-ordinal addressing is parquet-only in lite scope)
    lake.parquet(
      spark.range(0, 1).select(lit(s"$root/data/f1.orc").as("file_path"),
        lit(0L).as("pos")),
      "data/del.parquet")
    lake.avro(Seq((1, "data/del.parquet")).toDF("status", "file_path")
      .select(col("status"),
        struct(col("file_path"), lit(1).as("content")).as("data_file")),
      "metadata/m-del.avro")
    lake.avro(Seq(("metadata/m2b.avro", 0), ("metadata/m-del.avro", 1))
      .toDF("manifest_path", "content"), "metadata/snap-2.avro")
    val e = intercept[IllegalStateException] {
      IcebergLite.read(spark, root).collect()
    }
    assert(e.getMessage.contains("parquet-only"))
  }

  test("incremental read refuses a range that drops files") {
    val root = fixture("incdrop")
    // fixture snapshot 2 tombstones f0: the (1, 2] range is not
    // append-only and must refuse
    val e = intercept[IllegalStateException] {
      IcebergLite.readIncremental(spark, root, 1L, 2L)
    }
    assert(e.getMessage.contains("DROPS"))
  }

  test("readChanges nets a delete-adding range: DV growth emits only " +
    "newly-dead rows, eq deletes seq-gate past the new file; shrunk/" +
    "vanished DVs and dropped files refuse") {
    import spark.implicits._
    def author(name: String, dv2: Option[Seq[Long]] = Some(Seq(1L, 3L, 5L)),
               dropF0: Boolean = false): String = {
      val root = s"/tmp/graft_icespec/$name"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "metadata"))
      Files.createDirectories(Paths.get(root, "data"))
      def one(df: org.apache.spark.sql.DataFrame, ids: Map[String, Int],
              out: String): Unit = {
        LakeFiles.Local(root).parquet(IcebergLite.stampFieldIds(df, ids), out)
      }
      val ids = Map("id" -> 1, "v" -> 2)
      def batch(a: Long, b: Long) =
        spark.range(a, b).select(col("id"), (col("id") * 3).as("v"))
      one(batch(0, 10), ids, "data/f0.parquet")
      one(batch(10, 15), ids, "data/f1.parquet")
      // eq delete at seq 2 names ids {0, 10}: kills f0's 0 (seq 1<2),
      // spares f1's 10 (seq 2, not strictly below)
      one(Seq(0L, 10L).toDF("id"), Map("id" -> 1), "data/eq.parquet")
      val lake = LakeFiles.Local(root)
      def dvPuffin(rel: String, ordinals: Seq[Long]): Long = {
        val blob = dvBlob(ordinals)
        Files.write(Paths.get(root, rel), "PFA1".getBytes("UTF-8") ++
          blob ++ "PFA1".getBytes("UTF-8"))
        blob.length.toLong
      }
      val s1 = dvPuffin("data/dv1.puffin", Seq(1L, 3L))
      val s2 = dv2.map(dvPuffin("data/dv2.puffin", _))
      def manifest(rel: String, path: String, content: Int,
                   eqIds: Seq[Int], dv: Option[(String, Long, Long)])
      : Unit =
        lake.avro(Seq((1, path)).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(content).as("content"),
              (if (eqIds.isEmpty) lit(null).cast("array<int>")
               else array(eqIds.map(lit(_)): _*)).as("equality_ids"),
              dv.map(d => lit(d._1)).getOrElse(lit(null))
                .cast("string").as("referenced_data_file"),
              dv.map(_ => lit(4L)).getOrElse(lit(null))
                .cast("long").as("content_offset"),
              dv.map(d => lit(d._2)).getOrElse(lit(null))
                .cast("long").as("content_size_in_bytes"),
              dv.map(d => lit(d._3)).getOrElse(lit(null))
                .cast("long").as("record_count")).as("data_file")), rel)
      manifest("metadata/m-f0.avro", "data/f0.parquet", 0, Nil, None)
      manifest("metadata/m-f1.avro", "data/f1.parquet", 0, Nil, None)
      manifest("metadata/m-eq.avro", "data/eq.parquet", 2, Seq(1), None)
      manifest("metadata/m-dv1.avro", "data/dv1.puffin", 1, Nil,
        Some(("data/f0.parquet", s1, 2L)))
      for (sz <- s2)
        manifest("metadata/m-dv2.avro", "data/dv2.puffin", 1, Nil,
          Some(("data/f0.parquet", sz, dv2.get.length.toLong)))
      def mlist(rel: String, rows: (String, Int, Long)*): Unit =
        lake.avro(rows.toSeq
          .toDF("manifest_path", "content", "sequence_number"), rel)
      mlist("metadata/snap-1.avro",
        ("metadata/m-f0.avro", 0, 1L), ("metadata/m-dv1.avro", 1, 1L))
      mlist("metadata/snap-2.avro",
        (if (dropF0) Nil else Seq(("metadata/m-f0.avro", 0, 1L))) ++
          Seq(("metadata/m-f1.avro", 0, 2L),
            ("metadata/m-eq.avro", 1, 2L)) ++
          s2.map(_ => ("metadata/m-dv2.avro", 1, 2L)).toSeq: _*)
      Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
        s"""{"format-version":3,"location":${jstr(root)},
           |"current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[
           |  {"id":1,"name":"id","required":false,"type":"long"},
           |  {"id":2,"name":"v","required":false,"type":"long"}]}],
           |"current-snapshot-id":2,
           |"snapshots":[
           | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"},
           | {"snapshot-id":2,"manifest-list":"metadata/snap-2.avro"}
           |]}""".stripMargin)
      Files.writeString(
        Paths.get(root, "metadata", "version-hint.text"), "1")
      root
    }
    // happy: inserts = f1 (10..14, eq delete seq-gated off it);
    // deletes = ordinal 5 (the DV's growth — 1,3 were already dead
    // at `from`) plus id 0 (eq-matched among positional survivors)
    val got = IcebergLite.readChanges(spark, author("chg"), 1L, 2L)
      .select(col("id"), col("_change_type"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(got == ((10L to 14L).map(i => (i, "insert")) ++
      Seq((0L, "delete"), (5L, "delete"))).sorted)
    // a SHRINKING replacement DV (a restore) refuses
    val e1 = intercept[IllegalStateException] {
      IcebergLite.readChanges(spark,
        author("chgshrink", dv2 = Some(Seq(1L))), 1L, 2L)
    }
    assert(e1.getMessage.contains("SHRINKS"))
    // a DV that disappears refuses
    val e2 = intercept[IllegalStateException] {
      IcebergLite.readChanges(spark,
        author("chgvanish", dv2 = None), 1L, 2L)
    }
    assert(e2.getMessage.contains("disappears"))
    // a range that drops a data file (rewrite/compaction) refuses
    val e3 = intercept[IllegalStateException] {
      IcebergLite.readChanges(spark,
        author("chgdrop", dropF0 = true), 1L, 2L)
    }
    assert(e3.getMessage.contains("DROPS"))
  }

  test("randomized model check: readChanges over every (from, latest) " +
    "range of a random append/DV-grow/positional-delete-file/equality-" +
    "delete snapshot sequence equals the in-memory diff model, across " +
    "seeds") {
    import spark.implicits._
    // seq = the file's data sequence number (the snapshot that added
    // it) — the equality deletes' strict `<` gate consults it.
    // Format version is per seed: v3 tables mutate through DVs (v3
    // forbids positional delete FILES), v2 tables through positional
    // delete files (v2 predates DVs) — both alongside equality
    // deletes, matching the reader's format gates.
    final case class F(name: String, rows: Seq[Long], dead: Set[Int],
                       dvManifest: Option[String], seq: Long)
    for (seed <- Seq(11, 77, 503, 1201)) {
      val fv = if (seed < 100) 3 else 2
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_icespec/chgmodel$seed"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "metadata"))
      Files.createDirectories(Paths.get(root, "data"))
      val lake = LakeFiles.Local(root)
      def dataManifest(rel: String, path: String): Unit =
        lake.avro(Seq((1, path)).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(0).as("content"))
              .as("data_file")), rel)
      def dvManifest(rel: String, path: String, dataFile: String,
                     size: Long, card: Long): Unit =
        lake.avro(Seq((1, path)).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(1).as("content"),
              lit(dataFile).as("referenced_data_file"),
              lit(4L).as("content_offset"),
              lit(size).as("content_size_in_bytes"),
              lit(card).as("record_count")).as("data_file")),
          rel)
      // positional delete FILE manifest: content=1, NO
      // referenced_data_file (that field is what marks a DV)
      def posManifest(rel: String, path: String): Unit =
        lake.avro(Seq((1, path)).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(1).as("content"))
              .as("data_file")), rel)
      // equality delete manifest: content=2 + equality_ids
      def eqManifest(rel: String, path: String, ids: Seq[Int]): Unit =
        lake.avro(Seq((1, path)).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(2).as("content"),
              array(ids.map(lit(_)): _*).as("equality_ids"))
              .as("data_file")), rel)
      var nextBase = 0L
      var files = Vector.empty[F]
      // accumulated delete-surface manifests beyond the per-file DV
      // (positional delete files + equality deletes), with the
      // manifest-list sequence number they were committed at
      var extraDelManifests = Vector.empty[(String, Long)]
      // equality deletes in force: (matched id values, delete seq)
      var eqDels = Vector.empty[(Set[Long], Long)]
      def newDataFile(sid: Long): F = {
        val n = 3 + rnd.nextInt(5)
        val rows = (nextBase until nextBase + n).toSeq
        nextBase += 100
        val name = s"f$sid"
        lake.parquet(IcebergLite.stampFieldIds(
          spark.range(rows.head, rows.head + n)
            .select(col("id"), (col("id") * 3).as("v")),
          Map("id" -> 1, "v" -> 2)), s"data/$name.parquet")
        dataManifest(s"metadata/m-$name.avro", s"data/$name.parquet")
        F(name, rows, Set.empty, None, sid)
      }
      val nSnaps = 4 + rnd.nextInt(3)
      val states = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Vector[F], Vector[(Set[Long], Long)])]
      // data-file seq = the snapshot that added it; DV/posdel/eqdel
      // manifests commit at their own snapshot's seq — the manifest
      // list carries sequence_number so the equality gate resolves
      var manifestSeq = Map.empty[String, Long]
      for (sid <- 1L to nSnaps.toLong) {
        val ops =
          if (fv >= 3) Seq("add", "dv", "eqdel")
          else Seq("add", "posdel", "eqdel")
        val op = if (files.isEmpty) "add" else ops(rnd.nextInt(ops.size))
        op match {
          case "add" =>
            files :+= newDataFile(sid)
            manifestSeq += (s"metadata/m-f$sid.avro" -> sid)
          case "dv" =>
            val i = rnd.nextInt(files.size)
            val old = files(i)
            val dead = old.dead ++ (0 until (1 + rnd.nextInt(3)))
              .map(_ => rnd.nextInt(old.rows.size))
            // v3 supersession: one replacement DV, a superset bitmap
            val blob = dvBlob(dead.toSeq.sorted.map(_.toLong))
            val dvRel = s"data/dv-$sid-${old.name}.puffin"
            Files.write(Paths.get(root, dvRel),
              "PFA1".getBytes("UTF-8") ++ blob ++
                "PFA1".getBytes("UTF-8"))
            val mRel = s"metadata/m-dv-$sid-${old.name}.avro"
            dvManifest(mRel, dvRel, s"data/${old.name}.parquet",
              blob.length.toLong, dead.size.toLong)
            manifestSeq += (mRel -> sid)
            files = files.updated(i,
              old.copy(dead = dead, dvManifest = Some(mRel)))
          case "posdel" =>
            // a v2 positional delete file over 1-2 (possibly already
            // dead — the overlap must not double count) ordinals of
            // one existing file
            val i = rnd.nextInt(files.size)
            val old = files(i)
            val ords = (0 until (1 + rnd.nextInt(2)))
              .map(_ => rnd.nextInt(old.rows.size)).toSet
            val rel = s"data/pd-$sid.parquet"
            lake.parquet(
              ords.toSeq.sorted
                .map(o => (s"data/${old.name}.parquet", o.toLong))
                .toDF("file_path", "pos"), rel)
            val mRel = s"metadata/m-pd-$sid.avro"
            posManifest(mRel, rel)
            manifestSeq += (mRel -> sid)
            extraDelManifests :+= ((mRel, sid))
            files = files.updated(i, old.copy(dead = old.dead ++ ords))
          case "eqdel" =>
            // an equality delete on `id` values of 1-2 random existing
            // rows (dead or alive) — strict seq gating means it only
            // kills rows of files committed BEFORE this snapshot
            val vals = (0 until (1 + rnd.nextInt(2))).map { _ =>
              val f = files(rnd.nextInt(files.size))
              f.rows(rnd.nextInt(f.rows.size))
            }.toSet
            val rel = s"data/eq-$sid.parquet"
            lake.parquet(IcebergLite.stampFieldIds(
              vals.toSeq.sorted.toDF("id"), Map("id" -> 1)), rel)
            val mRel = s"metadata/m-eq-$sid.avro"
            eqManifest(mRel, rel, Seq(1))
            manifestSeq += (mRel -> sid)
            extraDelManifests :+= ((mRel, sid))
            eqDels :+= ((vals, sid))
        }
        lake.avro(
          (files.map(f => (s"metadata/m-${f.name}.avro", 0)) ++
            files.flatMap(_.dvManifest).map((_, 1)) ++
            extraDelManifests.map { case (m, _) => (m, 1) })
            .map { case (m, c) => (m, c, manifestSeq(m)) }
            .toDF("manifest_path", "content", "sequence_number"),
          s"metadata/snap-$sid.avro")
        states += ((sid, files, eqDels))
      }
      val snapsJson = (1L to nSnaps.toLong).map(sid =>
        s"""{"snapshot-id":$sid,"manifest-list":"metadata/snap-$sid.avro"}""")
        .mkString(",")
      Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
        s"""{"format-version":$fv,"location":${jstr(root)},
           |"current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[
           |  {"id":1,"name":"id","required":false,"type":"long"},
           |  {"id":2,"name":"v","required":false,"type":"long"}]}],
           |"current-snapshot-id":$nSnaps,
           |"snapshots":[$snapsJson]}""".stripMargin)
      Files.writeString(
        Paths.get(root, "metadata", "version-hint.text"), "1")
      val (_, toState, toEqs) = states.last
      def eqDead(fileSeq: Long, id: Long,
                 eqs: Vector[(Set[Long], Long)]): Boolean =
        eqs.exists { case (vals, dseq) =>
          vals.contains(id) && fileSeq < dseq }
      for ((from, fromState, fromEqs) <- states.init) {
        val fromNames = fromState.map(_.name).toSet
        val want = (
          // inserts: new files' rows live at `to` — positional AND
          // equality surfaces both apply (a row inserted and killed
          // inside the range nets out)
          toState.filterNot(f => fromNames(f.name)).flatMap(f =>
            f.rows.zipWithIndex.collect {
              case (id, ord) if !f.dead.contains(ord) &&
                !eqDead(f.seq, id, toEqs) => (id, "insert")
            }) ++
            // deletes: old files' rows live at `from` (its full delete
            // surface), dead at `to` by either surface
            fromState.flatMap { f0 =>
              val f1 = toState.find(_.name == f0.name).get
              f0.rows.zipWithIndex.collect {
                case (id, ord) if !f0.dead.contains(ord) &&
                  !eqDead(f0.seq, id, fromEqs) &&
                  (f1.dead.contains(ord) ||
                    eqDead(f1.seq, id, toEqs)) => (id, "delete")
              }
            }).sorted
        val got = IcebergLite
          .readChanges(spark, root, from, nSnaps.toLong)
          .select(col("id"), col("_change_type"))
          .as[(Long, String)].collect().sorted.toSeq
        assert(got == want,
          s"seed $seed range ($from, $nSnaps]: got $got, want $want")
      }
    }
  }

  test("compact publishes a replace snapshot: read unchanged, one " +
    "file, history travelable, incremental-across refuses; " +
    "partitioned tables pack per partition with spec-complete " +
    "manifests; non-identity transforms refuse") {
    import spark.implicits._
    val root = fixture("compact")
    val before = IcebergLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    val newId = IcebergLite.compact(spark, root)
    assert(newId == 3L) // snapshots 1, 2 existed
    val after = IcebergLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(after == before)
    val snap = IcebergLite.snapshot(spark, root)
    assert(snap.snapshotId == newId && snap.files.size == 1 &&
      snap.deleteFiles.isEmpty && snap.dvs.isEmpty &&
      snap.eqDeletes.isEmpty)
    // pre-compaction snapshots still travel
    assert(IcebergLite.read(spark, root, Some(1L)).count() == 10L)
    // the metadata version rolled and the hint follows it
    assert(Files.readString(
      Paths.get(root, "metadata", "version-hint.text")).trim == "4")
    // an incremental range crossing the replace refuses loudly
    val e = intercept[IllegalStateException] {
      IcebergLite.readIncremental(spark, root, 2L, newId)
    }
    assert(e.getMessage.contains("DROPS"))
    // compacting again rolls forward and stays content-identical
    assert(IcebergLite.compact(spark, root) == newId + 1)
    assert(IcebergLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq == after)
    // a partitioned table (identity transform) packs WITHIN each
    // partition and stamps a spec-complete manifest
    val root2 = "/tmp/graft_icespec/compactpart2"
    rm(new java.io.File(root2))
    Files.createDirectories(Paths.get(root2, "metadata"))
    Files.createDirectories(Paths.get(root2, "data"))
    val dfP = spark.range(0, 20).select(col("id"),
      when(col("id") < 10, "x").otherwise("y").as("p"))
    def oneP(filter: org.apache.spark.sql.Column, out: String): Unit = {
      LakeFiles.Local(root2).parquet(
        IcebergLite.stampFieldIds(dfP.filter(filter),
          Map("id" -> 1, "p" -> 2)),
        out)
    }
    oneP(col("id") < 5, "data/g0.parquet")
    oneP(col("id") >= 5 && col("id") < 10, "data/g1.parquet")
    oneP(col("id") >= 10 && col("id") < 15, "data/g2.parquet")
    oneP(col("id") >= 15, "data/g3.parquet")
    val lake = LakeFiles.Local(root2)
    lake.avro(Seq("data/g0.parquet", "data/g1.parquet",
      "data/g2.parquet", "data/g3.parquet").toDF("file_path")
      .select(lit(1).as("status"),
        struct(col("file_path"), lit(0).as("content")).as("data_file")),
      "metadata/m1.avro")
    lake.avro(Seq("metadata/m1.avro").toDF("manifest_path")
      .select(col("manifest_path"), lit(0).as("content")),
      "metadata/snap-1.avro")
    Files.writeString(Paths.get(root2, "metadata", "v1.metadata.json"),
      s"""{"format-version":2,"location":${jstr(root2)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"p","required":false,"type":"string"}]}],
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"p","transform":"identity","source-id":2,"field-id":1000}]}],
         |"default-spec-id":0,
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}]}"""
        .stripMargin)
    Files.writeString(
      Paths.get(root2, "metadata", "version-hint.text"), "1")
    val beforeP = IcebergLite.read(spark, root2)
      .as[(Long, String)].collect().sorted.toSeq
    assert(beforeP.size == 20)
    val idP = IcebergLite.compact(spark, root2)
    assert(idP == 2L)
    assert(IcebergLite.read(spark, root2)
      .as[(Long, String)].collect().sorted.toSeq == beforeP)
    // one file per partition; spec-complete manifest rows feed the
    // files/partitions metadata tables (record_count, size, partition)
    val snapP = IcebergLite.snapshot(spark, root2)
    assert(snapP.files.size == 2)
    val filesMeta = IcebergLite.metadataTable(spark, root2, "files")
      .select(col("record_count"), col("file_size_in_bytes"),
        col("partition"))
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(filesMeta.map(_._1) == Seq(10L, 10L))
    assert(filesMeta.forall(_._2 > 100L))
    assert(filesMeta.map(_._3).toSet ==
      Set("""{"p":"x"}""", """{"p":"y"}"""))
    val partsMeta = IcebergLite
      .metadataTable(spark, root2, "partitions")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(partsMeta == Seq(("""{"p":"x"}""", 10L, 1L),
      ("""{"p":"y"}""", 10L, 1L)))
    // expiry × partitioned metadata: dropping the pre-compaction
    // snapshot deletes only its orphans; the partitions metadata
    // table still serves the live per-partition stats and expired
    // travel refuses
    assert(IcebergLite.expireSnapshots(spark, root2, keepLast = 1)
      == Seq(1L))
    assert(IcebergLite.metadataTable(spark, root2, "partitions")
      .as[(String, Long, Long)].collect().sorted.toSeq ==
      Seq(("""{"p":"x"}""", 10L, 1L), ("""{"p":"y"}""", 10L, 1L)))
    assert(IcebergLite.read(spark, root2)
      .as[(Long, String)].collect().sorted.toSeq == beforeP)
    intercept[IllegalArgumentException] {
      IcebergLite.snapshot(spark, root2, Some(1L))
    }
    // the pre-compaction partition files are reclaimed, the packed
    // per-partition files survive
    assert(!Files.exists(Paths.get(root2, "data", "g0.parquet")))
    assert(Files.exists(Paths.get(root2, "data", "p=x",
      "compact-2_0.parquet")))
    // a transform outside scope (hours needs a timestamp source)
    // refuses loudly; bucket/truncate/temporal transforms compact —
    // covered by their own test below
    val metaP = Files.readString(
      Paths.get(root2, "metadata", "v2.metadata.json"))
    Files.writeString(Paths.get(root2, "metadata", "v3.metadata.json"),
      metaP.replace("\"transform\":\"identity\"",
        "\"transform\":\"hours\""))
    Files.writeString(
      Paths.get(root2, "metadata", "version-hint.text"), "3")
    val e2 = intercept[IllegalStateException] {
      IcebergLite.compact(spark, root2)
    }
    assert(e2.getMessage.contains("hours"))
  }

  test("partition transforms: the spec's murmur3 test vectors pin the " +
    "bucket hash; bucket/truncate/days compaction re-computes " +
    "partition values and stamps transform-typed manifests") {
    import spark.implicits._
    import graft.sources.IcebergTransforms
    // iceberg.apache.org/spec Appendix B test vectors — a
    // mis-implemented hash would silently mis-bucket every row
    assert(IcebergTransforms.hashLong(34L) == 2017239379)
    assert(IcebergTransforms.hashString("iceberg") == 1210000089)
    // date 2017-11-16 is epoch day 17486; dates hash as longs
    assert(java.time.LocalDate.of(2017, 11, 16).toEpochDay == 17486L)
    assert(IcebergTransforms.hashLong(17486L) == -653330422)
    // truncate[10] of ints truncates toward NEGATIVE infinity
    val tr = IcebergTransforms.resolve("t", "i_trunc", "truncate[10]",
      org.apache.spark.sql.types.IntegerType)
    assert(Seq(-1, 0, 9, 10, -10, -11).toDF("v")
      .select(tr.expr(col("v"))).as[Int].collect().toSeq ==
      Seq(-10, 0, 0, 10, -10, -20))
    // end-to-end: a table partitioned by bucket[4](id) packs per
    // bucket ordinal, the manifest partition struct is INT-typed,
    // and the read is unchanged
    val root = "/tmp/graft_icespec/compactbucket"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    val df = spark.range(0, 40).select(col("id"),
      concat(lit("w"), (col("id") % 7).cast("string")).as("s"))
    def one(filter: org.apache.spark.sql.Column, out: String): Unit = {
      LakeFiles.Local(root).parquet(
        IcebergLite.stampFieldIds(df.filter(filter),
          Map("id" -> 1, "s" -> 2)),
        out)
    }
    one(col("id") < 20, "data/h0.parquet")
    one(col("id") >= 20, "data/h1.parquet")
    val lake = LakeFiles.Local(root)
    lake.avro(Seq("data/h0.parquet", "data/h1.parquet").toDF("file_path")
      .select(lit(1).as("status"),
        struct(col("file_path"), lit(0).as("content")).as("data_file")),
      "metadata/m1.avro")
    lake.avro(Seq("metadata/m1.avro").toDF("manifest_path")
      .select(col("manifest_path"), lit(0).as("content")),
      "metadata/snap-1.avro")
    Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
      s"""{"format-version":2,"location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"s","required":false,"type":"string"}]}],
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"id_bucket","transform":"bucket[4]","source-id":1,"field-id":1000}]}],
         |"default-spec-id":0,
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}]}"""
        .stripMargin)
    Files.writeString(
      Paths.get(root, "metadata", "version-hint.text"), "1")
    val before = IcebergLite.read(spark, root)
      .as[(Long, String)].collect().sorted.toSeq
    assert(before.size == 40)
    assert(IcebergLite.compact(spark, root) == 2L)
    assert(IcebergLite.read(spark, root)
      .as[(Long, String)].collect().sorted.toSeq == before)
    // per-bucket packing: files land under id_bucket=<ordinal> dirs,
    // partition values in the manifest are the INT ordinals, and the
    // ordinals are the spec hash's (cross-checked per row)
    val filesMeta = IcebergLite.metadataTable(spark, root, "files")
      .select(col("file_path"), col("partition"))
      .as[(String, String)].collect().toSeq
    val buckets = (0L until 40L)
      .map(i => IcebergTransforms.bucketLong(i, 4)).toSet
    assert(filesMeta.size == buckets.size)
    assert(filesMeta.map(_._2).toSet ==
      buckets.map(b => s"""{"id_bucket":$b}"""))
    for ((fp, pj) <- filesMeta) {
      val b = pj.stripPrefix("""{"id_bucket":""").stripSuffix("}").toInt
      val ids = spark.read.parquet(fp).select("id").as[Long]
        .collect().toSeq
      assert(ids.nonEmpty &&
        ids.forall(i => IcebergTransforms.bucketLong(i, 4) == b),
        s"bucket dir $b holds a foreign id")
    }
  }

  test("partitioned DML: predicate update stages the rewrite under " +
    "the spec's transforms (partition-moving SETs land under the " +
    "recomputed values); keyed upsert spans partitions with a global " +
    "equality delete; manifests carry typed partition structs") {
    import spark.implicits._
    val root = "/tmp/graft_icespec/partdml"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    // identity-partitioned (p): x holds ids 0-9, y holds ids 10-19
    val df = spark.range(0, 20).select(col("id"),
      when(col("id") < 10, "x").otherwise("y").as("p"))
    def one(filter: org.apache.spark.sql.Column, out: String): Unit = {
      LakeFiles.Local(root).parquet(
        IcebergLite.stampFieldIds(df.filter(filter),
          Map("id" -> 1, "p" -> 2)),
        out)
    }
    one(col("id") < 10, "data/g0.parquet")
    one(col("id") >= 10, "data/g1.parquet")
    val lake = LakeFiles.Local(root)
    lake.avro(Seq("data/g0.parquet", "data/g1.parquet").toDF("file_path")
      .select(lit(1).as("status"),
        struct(col("file_path"), lit(0).as("content")).as("data_file")),
      "metadata/m1.avro")
    lake.avro(Seq(("metadata/m1.avro", 0, 1L))
      .toDF("manifest_path", "content", "sequence_number"),
      "metadata/snap-1.avro")
    Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
      s"""{"format-version":2,"location":${jstr(root)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"p","required":false,"type":"string"}]}],
         |"partition-specs":[{"spec-id":0,"fields":[
         |  {"name":"p","transform":"identity","source-id":2,"field-id":1000}]}],
         |"default-spec-id":0,
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}]}"""
        .stripMargin)
    Files.writeString(
      Paths.get(root, "metadata", "version-hint.text"), "1")
    def rows(sid: Option[Long] = None): Seq[(Long, String)] =
      IcebergLite.read(spark, root, snapshotId = sid)
        .select("id", "p").as[(Long, String)].collect().sorted.toSeq
    val orig = rows()
    assert(orig.size == 20)
    // PARTITION-MOVING predicate update: id 3 moves x → y; the
    // rewrite lands under data/p=y with the recomputed value
    assert(IcebergLite.update(spark, root, col("id") === 3,
      Map("p" -> lit("y"))) == 2L)
    val afterUpd = rows()
    assert(afterUpd == orig.map { case (i, p) =>
      (i, if (i == 3) "y" else p) })
    assert(rows(Some(1L)) == orig)
    assert(Files.exists(
      Paths.get(root, "data", "p=y", "upddata-2_0.parquet")))
    // the new manifest entry carries the typed partition struct
    val updMeta = IcebergLite.metadataTable(spark, root, "files")
      .select(col("file_path"), col("partition"))
      .as[(String, String)].collect()
      .filter(_._1.contains("upddata"))
    assert(updMeta.map(_._2).toSeq == Seq("""{"p":"y"}"""),
      updMeta.mkString(", "))
    // keyed upsert across partitions: 5 moves to y, 12 moves to x,
    // 100 inserts under x — the data leg splits per partition, the
    // equality delete kills the old versions GLOBALLY
    assert(IcebergLite.upsertKeyed(spark, root,
      Seq((5L, "y"), (12L, "x"), (100L, "x")).toDF("id", "p"),
      Seq("id")) == 3L)
    assert(rows() == (afterUpd.filterNot(r =>
      r._1 == 5L || r._1 == 12L) ++
      Seq((5L, "y"), (12L, "x"), (100L, "x"))).sorted)
    // both-or-neither atomicity: the pre-upsert snapshot is intact
    assert(rows(Some(2L)) == afterUpd)
    // per-partition staged files + the flat global eq-delete file
    assert(Files.exists(
      Paths.get(root, "data", "p=x", "upskdata-3_0.parquet")))
    assert(Files.exists(
      Paths.get(root, "data", "p=y", "upskdata-3_1.parquet")))
    assert(Files.exists(
      Paths.get(root, "data", "upskdel-3_0.parquet")))
    // compaction composes on top of the DML (same staging machinery)
    assert(IcebergLite.compact(spark, root) == 4L)
    assert(rows() == (afterUpd.filterNot(r =>
      r._1 == 5L || r._1 == 12L) ++
      Seq((5L, "y"), (12L, "x"), (100L, "x"))).sorted)
  }

  test("expireSnapshots drops history and deletes orphans only: " +
    "expired travel refuses, retained read intact, shared manifests " +
    "survive; a pinning ref refuses") {
    import spark.implicits._
    val root = fixture("expire")
    assert(IcebergLite.expireSnapshots(spark, root, keepLast = 2)
      == Nil) // nothing to expire at keepLast=2
    val expired = IcebergLite.expireSnapshots(spark, root, keepLast = 1)
    assert(expired == Seq(1L))
    // retained read intact; expired travel refuses, naming what's left
    assert(IcebergLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq ==
      (5L to 9L).map(i => (i, i * 3)))
    val e = intercept[IllegalArgumentException] {
      IcebergLite.snapshot(spark, root, Some(1L))
    }
    assert(e.getMessage.contains("snapshot 1"))
    // orphans deleted: snapshot 1's own manifest list and manifest,
    // and f0 (tombstoned at 2 — referenced only by snapshot 1's data
    // manifest); f1 and snapshot 2's manifests survive
    assert(!Files.exists(Paths.get(root, "metadata", "snap-1.avro")))
    assert(!Files.exists(Paths.get(root, "metadata", "m1.avro")))
    assert(!Files.exists(Paths.get(root, "data", "f0.parquet")))
    assert(Files.exists(Paths.get(root, "data", "f1.parquet")))
    assert(Files.exists(Paths.get(root, "metadata", "m2b.avro")))
    // a ref pinning an expiring snapshot refuses
    val root2 = fixture("expireref")
    val mf = Paths.get(root2, "metadata", "v3.metadata.json")
    Files.writeString(mf, Files.readString(mf).replace(
      "\"current-snapshot-id\":2,",
      """"refs":{"old":{"snapshot-id":1,"type":"tag"}},
        |"current-snapshot-id":2,""".stripMargin))
    val e2 = intercept[IllegalStateException] {
      IcebergLite.expireSnapshots(spark, root2, keepLast = 1)
    }
    assert(e2.getMessage.contains("ref 'old' pins"))
  }

  test("randomized maintenance model check: compaction preserves the " +
    "live read AND every prior snapshot's travel over a random " +
    "append/DV-grow history; expiry then drops exactly that history") {
    import spark.implicits._
    final case class F(name: String, rows: Seq[Long], dead: Set[Int],
                       dvManifest: Option[String])
    for (seed <- Seq(23, 418, 779)) {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_icespec/maint$seed"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "metadata"))
      Files.createDirectories(Paths.get(root, "data"))
      val lake = LakeFiles.Local(root)
      def dataManifest(rel: String, path: String): Unit =
        lake.avro(Seq((1, path)).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(0).as("content"))
              .as("data_file")), rel)
      def dvManifest(rel: String, path: String, dataFile: String,
                     size: Long, card: Long): Unit =
        lake.avro(Seq((1, path)).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(1).as("content"),
              lit(dataFile).as("referenced_data_file"),
              lit(4L).as("content_offset"),
              lit(size).as("content_size_in_bytes"),
              lit(card).as("record_count")).as("data_file")),
          rel)
      var nextBase = 0L
      var files = Vector.empty[F]
      def newDataFile(sid: Long): F = {
        val n = 3 + rnd.nextInt(5)
        val rows = (nextBase until nextBase + n).toSeq
        nextBase += 100
        val name = s"f$sid"
        lake.parquet(
          IcebergLite.stampFieldIds(
            spark.range(rows.head, rows.head + n)
              .select(col("id"), (col("id") * 3).as("v")),
            Map("id" -> 1, "v" -> 2)),
          s"data/$name.parquet")
        dataManifest(s"metadata/m-$name.avro", s"data/$name.parquet")
        F(name, rows, Set.empty, None)
      }
      val nSnaps = 3 + rnd.nextInt(3)
      val states =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Vector[F])]
      for (sid <- 1L to nSnaps.toLong) {
        val op = if (files.isEmpty) "add"
          else Seq("add", "dv")(rnd.nextInt(2))
        op match {
          case "add" => files :+= newDataFile(sid)
          case "dv" =>
            val i = rnd.nextInt(files.size)
            val old = files(i)
            val dead = old.dead ++ (0 until (1 + rnd.nextInt(3)))
              .map(_ => rnd.nextInt(old.rows.size))
            val blob = dvBlob(dead.toSeq.sorted.map(_.toLong))
            val dvRel = s"data/dv-$sid-${old.name}.puffin"
            Files.write(Paths.get(root, dvRel),
              "PFA1".getBytes("UTF-8") ++ blob ++
                "PFA1".getBytes("UTF-8"))
            val mRel = s"metadata/m-dv-$sid-${old.name}.avro"
            dvManifest(mRel, dvRel, s"data/${old.name}.parquet",
              blob.length.toLong, dead.size.toLong)
            files = files.updated(i,
              old.copy(dead = dead, dvManifest = Some(mRel)))
        }
        lake.avro(
          (files.map(f => (s"metadata/m-${f.name}.avro", 0)) ++
            files.flatMap(_.dvManifest).map((_, 1)))
            .toDF("manifest_path", "content"),
          s"metadata/snap-$sid.avro")
        states += ((sid, files))
      }
      val snapsJson = (1L to nSnaps.toLong).map(sid =>
        s"""{"snapshot-id":$sid,"manifest-list":"metadata/snap-$sid.avro"}""")
        .mkString(",")
      Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
        s"""{"format-version":3,"location":${jstr(root)},
           |"current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[
           |  {"id":1,"name":"id","required":false,"type":"long"},
           |  {"id":2,"name":"v","required":false,"type":"long"}]}],
           |"current-snapshot-id":$nSnaps,
           |"snapshots":[$snapsJson]}""".stripMargin)
      Files.writeString(
        Paths.get(root, "metadata", "version-hint.text"), "1")
      def rowsOf(fs: Vector[F]): Seq[(Long, Long)] =
        fs.flatMap(f => f.rows.zipWithIndex.collect {
          case (id, ord) if !f.dead.contains(ord) => (id, id * 3)
        }).sorted
      def readAt(sid: Option[Long]): Seq[(Long, Long)] =
        IcebergLite.read(spark, root, sid)
          .as[(Long, Long)].collect().sorted.toSeq
      assert(readAt(None) == rowsOf(states.last._2), s"seed $seed base")
      // compaction: live read AND every prior snapshot's travel intact
      val newId = IcebergLite.compact(spark, root)
      assert(readAt(None) == rowsOf(states.last._2),
        s"seed $seed post-compaction")
      for ((sid, st) <- states)
        assert(readAt(Some(sid)) == rowsOf(st),
          s"seed $seed travel to $sid post-compaction")
      // expiry: only the compacted snapshot survives; expired ids
      // refuse; the live read is untouched
      val expired = IcebergLite.expireSnapshots(spark, root, keepLast = 1)
      assert(expired == (1L to nSnaps.toLong), s"seed $seed expired set")
      assert(readAt(None) == rowsOf(states.last._2),
        s"seed $seed post-expiry")
      for (sid <- expired)
        intercept[IllegalArgumentException] {
          IcebergLite.snapshot(spark, root, Some(sid))
        }
      assert(IcebergLite.snapshot(spark, root).snapshotId == newId)
    }
  }

  test("randomized DML model check: random keyed-upsert / predicate " +
    "update / predicate delete / compact sequences on a PARTITIONED " +
    "table match an in-memory key model at every step, and every " +
    "prior snapshot still travels to its model state") {
    import spark.implicits._
    for (seed <- Seq(11, 402)) {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_icespec/dmlmodel$seed"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "metadata"))
      Files.createDirectories(Paths.get(root, "data"))
      val parts = Seq("a", "b", "c")
      // bootstrap: ids 0-9, v = id*2, p = a/b split, one flat file
      val df0 = spark.range(0, 10).select(col("id"),
        (col("id") * 2).as("v"),
        when(col("id") < 5, "a").otherwise("b").as("p"))
      LakeFiles.Local(root).parquet(
        IcebergLite.stampFieldIds(df0,
          Map("id" -> 1, "v" -> 2, "p" -> 3)),
        "data/g0.parquet")
      val lake = LakeFiles.Local(root)
      lake.avro(Seq((1, 1L, "data/g0.parquet"))
        .toDF("status", "sequence_number", "file_path")
        .select(col("status"), col("sequence_number"),
          struct(col("file_path"), lit(0).as("content"))
            .as("data_file")), "metadata/m1.avro")
      lake.avro(Seq(("metadata/m1.avro", 0, 1L))
        .toDF("manifest_path", "content", "sequence_number"),
        "metadata/snap-1.avro")
      Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
        s"""{"format-version":2,"location":${jstr(root)},
           |"current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[
           |  {"id":1,"name":"id","required":false,"type":"long"},
           |  {"id":2,"name":"v","required":false,"type":"long"},
           |  {"id":3,"name":"p","required":false,"type":"string"}]}],
           |"partition-specs":[{"spec-id":0,"fields":[
           |  {"name":"p","transform":"identity","source-id":3,"field-id":1000}]}],
           |"default-spec-id":0,
           |"current-snapshot-id":1,
           |"snapshots":[
           | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}]}"""
          .stripMargin)
      Files.writeString(
        Paths.get(root, "metadata", "version-hint.text"), "1")
      // the model: key -> (v, p)
      var model: Map[Long, (Long, String)] =
        (0L until 10L).map(i =>
          i -> (i * 2, if (i < 5) "a" else "b")).toMap
      def modelRows = model.toSeq
        .map { case (k, (v, p)) => (k, v, p) }.sorted
      def readAt(sid: Option[Long] = None): Seq[(Long, Long, String)] =
        IcebergLite.read(spark, root, snapshotId = sid)
          .select("id", "v", "p").as[(Long, Long, String)]
          .collect().sorted.toSeq
      val states = scala.collection.mutable.ArrayBuffer(
        (1L, modelRows))
      var nextNew = 100L
      for (_ <- 1 to 6) {
        val curId = IcebergLite.snapshot(spark, root).snapshotId
        rnd.nextInt(4) match {
          case 0 => // keyed upsert: existing + new keys, random v/p
            val existing = rnd.shuffle(model.keys.toSeq)
              .take(1 + rnd.nextInt(3))
            val fresh = (0 until rnd.nextInt(2)).map { _ =>
              nextNew += 1; nextNew }
            val batch = (existing ++ fresh).distinct.map(k =>
              (k, rnd.nextInt(1000).toLong,
                parts(rnd.nextInt(parts.size))))
            val sid = IcebergLite.upsertKeyed(spark, root,
              batch.toDF("id", "v", "p"), Seq("id"))
            assert(sid == curId + 1, s"seed $seed upsert snapshot")
            model ++= batch.map { case (k, v, p) => k -> (v, p) }
            states += ((sid, modelRows))
          case 1 => // predicate update, sometimes partition-moving
            val r = rnd.nextInt(3).toLong
            val move = rnd.nextBoolean()
            val tgt = parts(rnd.nextInt(parts.size))
            val matches = model.filter(_._1 % 3 == r)
            val sid = IcebergLite.update(spark, root,
              col("id") % 3 === r,
              if (move) Map("v" -> (col("v") + 10000), "p" -> lit(tgt))
              else Map("v" -> (col("v") + 10000)))
            if (matches.isEmpty)
              assert(sid == curId, s"seed $seed no-match update")
            else {
              assert(sid == curId + 1, s"seed $seed update snapshot")
              model ++= matches.map { case (k, (v, p)) =>
                k -> (v + 10000, if (move) tgt else p) }
              states += ((sid, modelRows))
            }
          case 2 => // predicate delete on a random key slice
            val doomed = rnd.shuffle(model.keys.toSeq)
              .take(rnd.nextInt(3))
            val sid = IcebergLite.delete(spark, root,
              if (doomed.isEmpty) lit(false)
              else col("id").isInCollection(doomed))
            if (doomed.isEmpty)
              assert(sid == curId, s"seed $seed no-match delete")
            else {
              assert(sid == curId + 1, s"seed $seed delete snapshot")
              model --= doomed
              states += ((sid, modelRows))
            }
          case 3 => // compact: content-neutral (a fully-deleted
            // table refuses compaction — nothing to rewrite)
            if (model.isEmpty)
              assert(intercept[IllegalStateException] {
                IcebergLite.compact(spark, root)
              }.getMessage.contains("NO live rows"))
            else {
              val sid = IcebergLite.compact(spark, root)
              assert(sid == curId + 1, s"seed $seed compact snapshot")
              states += ((sid, modelRows))
            }
        }
        assert(readAt() == modelRows, s"seed $seed live read")
      }
      // every recorded snapshot travels to its model state
      for ((sid, st) <- states)
        assert(readAt(Some(sid)) == st,
          s"seed $seed travel to $sid")
    }
  }

  test("non-file scheme in a stored path refuses loudly") {
    val root = fixture("scheme")
    import spark.implicits._
    LakeFiles.Local(root).avro(
      Seq(("s3://bucket/metadata/m1.avro", 0))
        .toDF("manifest_path", "content"),
      "metadata/snap-2.avro")
    val e = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("s3://"))
  }

  test("renamed columns read correctly by field id (old-named files)") {
    import spark.implicits._
    val root = fixture("renamed")
    // the data files store the column as `v` (field id 2); renaming it
    // in the metadata keeps the id, and the scan must resolve BY ID —
    // name resolution would silently read the new name as null
    val meta = Files.readString(
      Paths.get(root, "metadata", "v3.metadata.json"))
      .replace(""""name":"v"""", """"name":"v_renamed"""")
    Files.writeString(Paths.get(root, "metadata", "v3.metadata.json"), meta)
    val got = IcebergLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v_renamed"))
    assert(got.select("id", "v_renamed").as[(Long, Long)]
      .collect().sorted.toSeq == (5L to 9L).map(i => (i, i * 3)))
  }

  test("data files without stored field ids refuse loudly") {
    val root = fixture("noids")
    // overwrite f1 with an UNSTAMPED parquet: a footer with no field
    // ids under an id-resolving read schema must fail, not silently
    // fall back to names (a renamed table would then read nulls)
    LakeFiles.Local(root).parquet(
      spark.range(5, 10).select(col("id"), (col("id") * 3).as("v")),
      "data/f1.parquet")
    val e = intercept[Exception] {
      IcebergLite.read(spark, root).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.toLowerCase.contains("field id")))
  }

  private def unstamped(root: String, out: String,
                        df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.types.Metadata
    LakeFiles.Local(root).parquet(
      df.select(df.columns.toSeq.map(c =>
        col(c).as(c, Metadata.empty)): _*),
      out)
  }

  private def addMapping(root: String, mapping: String): Unit = {
    val metaPath = Paths.get(root, "metadata", "v3.metadata.json")
    val meta = Files.readString(metaPath).replace(
      """"current-schema-id":0,""",
      s""""properties":{"schema.name-mapping.default":${
        jstr(mapping)}},"current-schema-id":0,""")
    Files.writeString(metaPath, meta): Unit
  }

  test("name mapping reads id-less old-named files next to " +
    "id-stamped ones (one footer sweep, two legs)") {
    import spark.implicits._
    val root = fixture("nmap")
    // f1 becomes an id-LESS file under PRE-MIGRATION names
    unstamped(root, "data/f1.parquet",
      spark.range(5, 10).select(col("id").as("id_old"),
        (col("id") * 3).as("v_old")))
    addMapping(root,
      """[{"field-id":1,"names":["id_old","id"]},""" +
        """{"field-id":2,"names":["v_old","v"]}]""")
    // snapshot 1 holds BOTH f0 (id-stamped) and f1 (id-less, mapped)
    val got = IcebergLite.read(spark, root, snapshotId = Some(1L))
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.as[(Long, Long)].collect().sorted.toSeq ==
      (0L to 9L).map(i => (i, i * 3)))
  }

  test("name mapping: several matching names refuse as ambiguous; " +
    "an unmatched OPTIONAL field reads null; nested mappings refuse") {
    import spark.implicits._
    val root = fixture("nmapedge")
    unstamped(root, "data/f1.parquet",
      spark.range(5, 10).select(col("id").as("ia"),
        (col("id") * 2).as("ib")))
    addMapping(root,
      """[{"field-id":1,"names":["ia","ib"]},""" +
        """{"field-id":2,"names":["v_old"]}]""")
    val e = intercept[IllegalStateException] {
      IcebergLite.read(spark, root).collect()
    }
    assert(e.getMessage.contains("ambiguous"))
    // field 1 matches ia alone; field 2 (optional) matches nothing →
    // null column, never a silent wrong value
    val root2 = fixture("nmapnull")
    unstamped(root2, "data/f1.parquet",
      spark.range(5, 10).select(col("id").as("ia"),
        (col("id") * 2).as("ignored")))
    addMapping(root2, """[{"field-id":1,"names":["ia"]},""" +
      """{"field-id":2,"names":["v_old"]}]""")
    val got = IcebergLite.read(spark, root2)
      .as[(Long, Option[Long])].collect().sorted.toSeq
    assert(got == (5L to 9L).map(i => (i, None)))
    intercept[IllegalStateException] {
      IcebergLite.parseNameMapping(
        """[{"field-id":1,"names":["a"],"fields":[]}]""", "spec")
    }
  }

  test("name mapping + deletes: v2 positional and equality deletes " +
    "written after a migration reach the id-less mapped leg") {
    import spark.implicits._
    val root = s"/tmp/graft_icespec/nmapdel"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.createDirectories(Paths.get(root, "data"))
    val lake = LakeFiles.Local(root)
    // f0: id-stamped current names; f1: id-LESS pre-migration names
    lake.parquet(IcebergLite.stampFieldIds(
      spark.range(0, 5).select(col("id"), (col("id") * 3).as("v")),
      Map("id" -> 1, "v" -> 2)), "data/f0.parquet")
    import org.apache.spark.sql.types.Metadata
    lake.parquet(spark.range(5, 10).select(
      col("id").as("id_old", Metadata.empty),
      (col("id") * 3).as("v_old", Metadata.empty)), "data/f1.parquet")
    // positional delete: rows 0 and 2 OF THE ID-LESS FILE (ids 5, 7)
    lake.parquet(Seq((s"$root/data/f1.parquet", 0L),
      (s"$root/data/f1.parquet", 2L)).toDF("file_path", "pos"),
      "data/pos.parquet")
    // equality delete on field id 1: ids 1 (id-stamped file) and 6
    // (id-less file) — the delete must reach BOTH legs
    lake.parquet(IcebergLite.stampFieldIds(
      Seq(1L, 6L).toDF("id"), Map("id" -> 1)), "data/eq.parquet")
    def manifest(rel: String, path: String, content: Int,
                 eqIds: Seq[Int]): Unit =
      lake.avro(Seq((1, path)).toDF("status", "file_path")
        .select(col("status"),
          lit(null).cast("long").as("sequence_number"),
          struct(col("file_path"), lit(content).as("content"),
            (if (eqIds.isEmpty) lit(null).cast("array<int>")
             else array(eqIds.map(lit(_)): _*)).as("equality_ids"))
            .as("data_file")), rel)
    manifest("metadata/m-f0.avro", "data/f0.parquet", 0, Nil)
    manifest("metadata/m-f1.avro", "data/f1.parquet", 0, Nil)
    manifest("metadata/m-pos.avro", "data/pos.parquet", 1, Nil)
    manifest("metadata/m-eq.avro", "data/eq.parquet", 2, Seq(1))
    lake.avro(Seq(("metadata/m-f0.avro", 0, 1L),
      ("metadata/m-f1.avro", 0, 1L),
      ("metadata/m-pos.avro", 1, 2L),
      ("metadata/m-eq.avro", 1, 2L))
      .toDF("manifest_path", "content", "sequence_number"),
      "metadata/snap-1.avro")
    val mapping = """[{"field-id":1,"names":["id_old","id"]},""" +
      """{"field-id":2,"names":["v_old","v"]}]"""
    Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
      s"""{"format-version":2,"location":${jstr(root)},
         |"properties":{"schema.name-mapping.default":${jstr(mapping)}},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"long"}]}],
         |"current-snapshot-id":1,
         |"snapshots":[
         | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}
         |]}""".stripMargin)
    Files.writeString(Paths.get(root, "metadata", "version-hint.text"), "1")
    val got = IcebergLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    // survivors: 0,2,3,4 (1 eq-deleted) ∪ 8,9 (5,7 pos-deleted at
    // rows 0/2 of the id-less file; 6 eq-deleted through the mapping)
    assert(got.as[(Long, Long)].collect().sorted.toSeq ==
      Seq(0L, 2L, 3L, 4L, 8L, 9L).map(i => (i, i * 3)))
  }

  test("a file mixing id-stamped and id-less columns refuses; " +
    "id-less files WITHOUT a mapping still refuse") {
    val root = fixture("nmapmixed")
    // one column carries a field id, the other does not
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder}
    LakeFiles.Local(root).parquet(
      spark.range(5, 10).select(
        col("id").as("id",
          new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
        (col("id") * 3).as("v", Metadata.empty)),
      "data/f1.parquet")
    addMapping(root, """[{"field-id":1,"names":["id"]},""" +
      """{"field-id":2,"names":["v"]}]""")
    val e = intercept[IllegalStateException] {
      IcebergLite.read(spark, root).collect()
    }
    assert(e.getMessage.contains("mixes id-stamped"))
  }

  /** [innerLen BE][magic 1681511377 LE][portable RoaringBitmapArray]
    * [CRC-32 BE] — the Puffin deletion-vector-v1 blob (spec-identical
    * to Delta's DV serialization). Returns the blob bytes. */
  private def dvBlob(ordinals: Seq[Long]): Array[Byte] = {
    val bmp = new org.roaringbitmap.RoaringBitmap()
    ordinals.foreach(p => bmp.add(p.toInt))
    val bos = new java.io.ByteArrayOutputStream()
    val header = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    header.putInt(1681511377)
    header.putLong(1L)
    header.putInt(0)
    bos.write(header.array())
    val dos = new java.io.DataOutputStream(bos)
    bmp.serialize(dos)
    dos.flush()
    val data = bos.toByteArray
    val crc = new java.util.zip.CRC32
    crc.update(data)
    val blob = java.nio.ByteBuffer.allocate(4 + data.length + 4)
    blob.putInt(data.length)
    blob.put(data)
    blob.putInt(crc.getValue.toInt)
    blob.array()
  }

  test("format-v3 deletion vectors: Puffin blobs decode and anti-join " +
    "by (data file, ordinal); framing mismatches refuse") {
    import spark.implicits._
    def author(name: String, formatVersion: Int = 3,
               twoDvs: Boolean = false,
               breakLen: Boolean = false,
               breakCrc: Boolean = false,
               plainPosDelete: Boolean = false): String = {
      val root = s"/tmp/graft_icespec/$name"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "metadata"))
      Files.createDirectories(Paths.get(root, "data"))
      LakeFiles.Local(root).parquet(
        IcebergLite.stampFieldIds(
          spark.range(0, 10).select(col("id"), (col("id") * 3).as("v")),
          Map("id" -> 1, "v" -> 2)),
        "data/f0.parquet")
      // puffin: leading magic + blob (ordinals 1, 3 dead) + trailing
      // magic (the reader navigates by manifest offsets, per the spec)
      val blob = dvBlob(Seq(1L, 3L))
      if (breakLen) {
        val bb = java.nio.ByteBuffer.wrap(blob)
        bb.putInt(0, bb.getInt(0) + 1)
      }
      if (breakCrc) blob(blob.length - 1) =
        (blob(blob.length - 1) ^ 0x55).toByte
      val puffin = "PFA1".getBytes("UTF-8") ++ blob ++
        "PFA1".getBytes("UTF-8")
      Files.write(Paths.get(root, "data", "dv.puffin"), puffin)
      val lake = LakeFiles.Local(root)
      lake.avro(Seq((1, "data/f0.parquet")).toDF("status", "file_path")
        .select(col("status"),
          struct(col("file_path"), lit(0).as("content")).as("data_file")),
        "metadata/m-data.avro")
      def dvRow(path: String) = (1, path, 1, "data/f0.parquet",
        4L, blob.length.toLong, 2L)
      val dvRows =
        if (plainPosDelete)
          Seq((1, "data/pos.parquet", 1, null.asInstanceOf[String],
            null.asInstanceOf[java.lang.Long],
            null.asInstanceOf[java.lang.Long],
            null.asInstanceOf[java.lang.Long]))
            .toDF("status", "file_path", "content",
              "referenced_data_file", "content_offset",
              "content_size_in_bytes", "record_count")
        else (if (twoDvs) Seq(dvRow("data/dv.puffin"),
          dvRow("data/dv.puffin")) else Seq(dvRow("data/dv.puffin")))
          .toDF("status", "file_path", "content", "referenced_data_file",
            "content_offset", "content_size_in_bytes", "record_count")
      lake.avro(dvRows.select(col("status"),
        struct(col("file_path"), col("content"),
          col("referenced_data_file"), col("content_offset"),
          col("content_size_in_bytes"), col("record_count"))
          .as("data_file")), "metadata/m-dv.avro")
      lake.avro(Seq(("metadata/m-data.avro", 0),
        ("metadata/m-dv.avro", 1)).toDF("manifest_path", "content"),
        "metadata/snap-1.avro")
      Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
        s"""{"format-version":$formatVersion,"location":${jstr(root)},
           |"current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[
           |  {"id":1,"name":"id","required":false,"type":"long"},
           |  {"id":2,"name":"v","required":false,"type":"long"}]}],
           |"current-snapshot-id":1,
           |"snapshots":[
           | {"snapshot-id":1,"manifest-list":"metadata/snap-1.avro"}
           |]}""".stripMargin)
      Files.writeString(
        Paths.get(root, "metadata", "version-hint.text"), "1")
      root
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    // happy path: ordinals 1 and 3 of f0 die
    val got = IcebergLite.read(spark, author("dv3"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq(0L, 2L, 4L, 5L, 6L, 7L, 8L, 9L).map(i => (i, i * 3)))
    // framing refusals
    val e1 = intercept[Exception] {
      IcebergLite.read(spark, author("dv3len", breakLen = true)).collect()
    }
    assert(chain(e1).exists(_.contains("inner")))
    val e2 = intercept[Exception] {
      IcebergLite.read(spark, author("dv3crc", breakCrc = true)).collect()
    }
    assert(chain(e2).exists(_.contains("checksum")))
    // structural refusals: two DVs per data file; a DV in a v2 table;
    // a plain position delete FILE in a v3 table
    val e3 = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, author("dv3two", twoDvs = true))
    }
    assert(e3.getMessage.contains("at most one"))
    val e4 = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, author("dv3v2", formatVersion = 2))
    }
    assert(e4.getMessage.contains("v3 feature"))
    val e5 = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark,
        author("dv3pos", plainPosDelete = true))
    }
    assert(e5.getMessage.contains("position delete FILE"))
  }

  test("metadata tables: snapshots/refs serve the metadata; unknown " +
    "names refuse listing what exists") {
    import spark.implicits._
    val root = fixture("metatables")
    assert(IcebergLite.metadataTable(spark, root, "snapshots")
      .select("snapshot_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // the base fixture has no refs → empty frame, correct schema
    val refs = IcebergLite.metadataTable(spark, root, "refs")
    assert(refs.columns.toSeq == Seq("name", "type", "snapshot_id"))
    assert(refs.count() == 0)
    // history: the snapshot-log lineage (empty when the writer kept
    // no log — the fixture's metadata carries none)
    val hist = IcebergLite.metadataTable(spark, root, "history")
    assert(hist.columns.toSeq == Seq("made_current_at", "snapshot_id"))
    assert(hist.count() == 0)
    val metaPath = Paths.get(root, "metadata", "v3.metadata.json")
    Files.writeString(metaPath, Files.readString(metaPath).replace(
      """"current-snapshot-id":2,""",
      """"current-snapshot-id":2,
        |"snapshot-log":[
        | {"timestamp-ms":1000,"snapshot-id":1},
        | {"timestamp-ms":2000,"snapshot-id":2}],""".stripMargin))
    assert(IcebergLite.metadataTable(spark, root, "history")
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1000L, 1L), (2000L, 2L)))
    // files: one row per LIVE data file of the current snapshot —
    // the tombstoned f0 is gone; this fixture's manifests record no
    // stats, so record_count/file_size come back null and the format
    // falls back to the extension
    val files = IcebergLite.metadataTable(spark, root, "files")
    assert(files.columns.toSeq == Seq("file_path", "file_format",
      "record_count", "file_size_in_bytes", "partition"))
    val frows = files.collect()
    assert(frows.length == 1 &&
      frows(0).getString(0).endsWith("data/f1.parquet") &&
      frows(0).getString(1) == "PARQUET" &&
      frows(0).isNullAt(2) && frows(0).isNullAt(3) &&
      frows(0).isNullAt(4), frows.mkString(", "))
    // partitions refuses when record_count was never recorded
    val ep = intercept[IllegalStateException] {
      IcebergLite.metadataTable(spark, root, "partitions")
    }
    assert(ep.getMessage.contains("record_count"))
    // entries serves one row per manifest entry (stats absent → null)
    val entries = IcebergLite.metadataTable(spark, root, "entries")
      .select("status", "file_path", "record_count")
      .collect().sortBy(_.getInt(0))
    assert(entries.length == 2) // m2del's tombstone + m2b's existing
    assert(entries.map(_.getInt(0)).toSeq.sorted == Seq(0, 2))
    assert(entries.forall(_.isNullAt(2)))
    // manifests serves per-manifest rows with entry counts under the
    // format's own metadata-table spelling
    val mrows = IcebergLite.metadataTable(spark, root, "manifests")
      .select("content", "added_data_files_count",
        "existing_data_files_count", "deleted_data_files_count",
        "length")
      .collect()
    assert(mrows.length == 2) // m2del + m2b
    assert(mrows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet == Set((0, 0L, 0L, 1L), (0, 0L, 1L, 0L)))
    assert(mrows.forall(_.getLong(4) > 0L))
    // unknown names refuse listing what exists
    val e = intercept[IllegalArgumentException] {
      IcebergLite.metadataTable(spark, root, "all_files")
    }
    assert(e.getMessage.contains("manifests") &&
      e.getMessage.contains("entries"))
  }

  test("randomized model check: every snapshot of a random " +
    "add/remove/DV commit sequence equals an in-memory file-set " +
    "model, across seeds") {
    import spark.implicits._
    // model: one table state per snapshot — live files, each with its
    // row ids and the CURRENT union of DV-dead ordinals
    final case class F(name: String, rows: Seq[Long], dead: Set[Int],
                       dv: Option[(String, Long, Long)]) // path,off,size
    for (seed <- Seq(5, 81, 713)) {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_icespec/icemodel$seed"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "metadata"))
      Files.createDirectories(Paths.get(root, "data"))
      val lake = LakeFiles.Local(root)
      var nextBase = 0L
      def newDataFile(s: Int): F = {
        val n = 3 + rnd.nextInt(5)
        val rows = (nextBase until nextBase + n).toSeq
        nextBase += 100
        val name = s"data/f${rows.head}.parquet"
        lake.parquet(
          IcebergLite.stampFieldIds(
            spark.range(rows.head, rows.head + n)
              .select(col("id"), (col("id") * 3).as("v")),
            Map("id" -> 1, "v" -> 2)),
          name)
        F(name, rows, Set.empty, None)
      }
      var live = Vector.empty[F]
      val nSnaps = 3 + rnd.nextInt(3)
      val states =
        scala.collection.mutable.ArrayBuffer.empty[(Int, Vector[F])]
      for (s <- 1 to nSnaps) {
        var tombstone: Option[String] = None
        val op = if (live.isEmpty) "add"
          else Seq("add", "remove", "dv")(rnd.nextInt(3))
        op match {
          case "add" => live :+= newDataFile(s)
          case "remove" =>
            val i = rnd.nextInt(live.size)
            tombstone = Some(live(i).name)
            live = live.patch(i, Nil, 1)
          case "dv" =>
            val i = rnd.nextInt(live.size)
            val f = live(i)
            val dead = f.dead ++
              (0 until (1 + rnd.nextInt(3))).map(_ =>
                rnd.nextInt(f.rows.size))
            // the spec's one-DV-per-file rule: a new DV carries the
            // UNION (writers must merge), in its own Puffin file
            val blob = dvBlob(dead.toSeq.sorted.map(_.toLong))
            val pf = s"data/dv-$s-${f.rows.head}.puffin"
            Files.write(Paths.get(root, pf),
              "PFA1".getBytes("UTF-8") ++ blob)
            live = live.updated(i, f.copy(dead = dead,
              dv = Some((pf, 4L, blob.length.toLong))))
        }
        // per-snapshot manifests reflect the CURRENT state: all live
        // files (plus this commit's status-2 tombstone, which the
        // replay must drop) and every live DV
        lake.avro((live.map(f => (if (s == 1) 1 else 0, f.name)) ++
          tombstone.map(t => (2, t))).toDF("status", "file_path")
          .select(col("status"),
            struct(col("file_path"), lit(0).as("content"))
              .as("data_file")), s"metadata/m-data-$s.avro")
        val dvs = live.flatMap(f => f.dv.map(d =>
          (1, d._1, 1, f.name, d._2, d._3, f.dead.size.toLong)))
        if (dvs.nonEmpty)
          lake.avro(dvs.toDF("status", "file_path", "content",
            "referenced_data_file", "content_offset",
            "content_size_in_bytes", "record_count")
            .select(col("status"), struct(col("file_path"),
              col("content"), col("referenced_data_file"),
              col("content_offset"), col("content_size_in_bytes"),
              col("record_count")).as("data_file")),
            s"metadata/m-dv-$s.avro")
        lake.avro((Seq((s"metadata/m-data-$s.avro", 0)) ++
          (if (dvs.nonEmpty) Seq((s"metadata/m-dv-$s.avro", 1))
           else Nil)).toDF("manifest_path", "content"),
          s"metadata/snap-$s.avro")
        states += ((s, live))
      }
      val snapsJson = (1 to nSnaps).map(s =>
        s"""{"snapshot-id":$s,"manifest-list":"metadata/snap-$s.avro"}""")
        .mkString("[", ",", "]")
      Files.writeString(Paths.get(root, "metadata", "v1.metadata.json"),
        s"""{"format-version":3,"location":${jstr(root)},
           |"current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[
           |  {"id":1,"name":"id","required":false,"type":"long"},
           |  {"id":2,"name":"v","required":false,"type":"long"}]}],
           |"current-snapshot-id":$nSnaps,
           |"snapshots":$snapsJson}""".stripMargin)
      Files.writeString(
        Paths.get(root, "metadata", "version-hint.text"), "1")
      for ((sid, model) <- states) {
        val got = IcebergLite
          .read(spark, root, snapshotId = Some(sid.toLong))
          .as[(Long, Long)].collect().sorted.toSeq
        val want = model.flatMap(f => f.rows.zipWithIndex.collect {
          case (id, ord) if !f.dead.contains(ord) => (id, id * 3)
        }).sorted
        assert(got == want,
          s"seed $seed snapshot $sid: got $got, want $want")
      }
    }
  }

  test("missing metadata refuses loudly") {
    intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, "/tmp/graft_icespec/nope")
    }
    val root = "/tmp/graft_icespec/emptymeta"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "metadata"))
    val e = intercept[IllegalStateException] {
      IcebergLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("metadata.json"))
  }

  test("a hint left one version behind (a crash between publishing " +
    "v<N+1> and moving the hint) is probed past: readers see the " +
    "newest snapshot and the next commit lands on top") {
    import spark.implicits._
    val root = fixture("stalehint")
    val before = IcebergLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(IcebergLite.compact(spark, root) == 3L) // publishes v4
    val hint = Paths.get(root, "metadata", "version-hint.text")
    Files.writeString(hint, "3")
    val snap = IcebergLite.snapshot(spark, root)
    assert(snap.snapshotId == 3L && snap.files.size == 1, snap)
    assert(IcebergLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq == before)
    assert(IcebergLite.compact(spark, root) == 4L)
    assert(Files.readString(hint).trim == "5")
  }

  test("compact and delete open the current metadata JSON once and " +
    "each manifest once") {
    import spark.implicits._
    val root = fixture("opens")
    addEqDelete(root, Seq.empty[Long].toDF("id"), fieldId = 1,
      dataSeq = 1L, delSeq = 2L) // v4: snapshot 3 with sequences
    /** The metadata files `body` opens: the JSON once, and exactly the
      * current manifest list and its manifests, each once. */
    def opensOnce(version: Int, manifests: Seq[String])(body: => Unit) = {
      val opened = CountingLocalFs.opens(spark)(body)
        .filter(p => p.endsWith(".metadata.json") || p.endsWith(".avro"))
      assert(opened.sorted == (s"v$version.metadata.json" +: manifests)
        .map(f => s"$root/metadata/$f").sorted, opened)
    }
    opensOnce(4, Seq("snap-3.avro", "m1.avro", "m-eq.avro"))(
      assert(IcebergLite.delete(spark, root, col("v") > 21) == 4L))
    opensOnce(5, Seq("snap-4.avro", "m1.avro", "m-eq.avro",
      "m-posdel-4.avro"))(assert(IcebergLite.compact(spark, root) == 5L))
    assert(IcebergLite.read(spark, root).count() == 8L)
  }
}
