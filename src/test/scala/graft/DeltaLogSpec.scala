package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DeltaLogLite
import graft.sources.LakeFiles
import graft.sources.LakeFiles.{jstr, rm}

/** DeltaLogLite contract: snapshot replay over public-protocol JSON
  * commits (metaData/add/remove, partition values in the log,
  * percent-encoded paths), versionAsOf, and the LOUD-failure paths —
  * checkpoint refusal, version gap, malformed action, missing
  * metaData, absolute add.path. The happy path against real data is
  * q389/q390's DuckDB oracle; these fixtures pin the edges.
  */
class DeltaLogSpec extends AnyFunSuite {
  import TestSession._

  /** Fresh table dir with data files f0.parquet (ids 0..4, part=a) and
    * `f one.parquet` (ids 5..9, part=b; name contains a SPACE so its
    * add.path must be percent-encoded). Returns (root, schemaString). */
  private def fixture(name: String): (String, String) = {
    val root = s"/tmp/graft_deltaspec/$name"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val df = spark.range(0, 10).select(col("id"),
      (col("id") * 2).as("v"), lit("x").as("part"))
    def one(filter: org.apache.spark.sql.Column, out: String): Unit =
      LakeFiles.Local(root).parquet(df.filter(filter).drop("part"), out)
    one(col("id") < 5, "f0.parquet")
    one(col("id") >= 5, "f one.parquet")
    val schema = df.schema.json
    (root, schema)
  }

  private def meta(schema: String): String =
    s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{},"createdTime":0}}"""

  private def add(path: String, part: String): String =
    s"""{"add":{"path":${jstr(path)},"partitionValues":{"part":${jstr(part)}},"size":1,"modificationTime":0,"dataChange":true}}"""

  private def commit(root: String, v: Long, lines: String*): Unit =
    Files.writeString(
      Paths.get(root, "_delta_log", f"$v%020d.json"),
      lines.mkString("", "\n", "\n"))

  test("replay: adds + percent-encoded path + typed log-borne " +
    "partition values") {
    val (root, schema) = fixture("happy")
    commit(root, 0, meta(schema), add("f0.parquet", "a"),
      add("f%20one.parquet", "b"))
    val got = DeltaLogLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "part"))
    assert(got.count() == 10)
    // partition values come from the LOG: f0 rows are a, "f one" rows b
    assert(got.filter(col("part") === "a").agg(max(col("id")))
      .head().getLong(0) == 4L)
    assert(got.filter(col("part") === "b").count() == 5)
  }

  test("partition filters prune non-matching groups at plan time; " +
    "data filters push into the parquet scan") {
    val (root, schema) = fixture("prune")
    commit(root, 0, meta(schema), add("f0.parquet", "a"),
      add("f%20one.parquet", "b"))
    val df = DeltaLogLite.read(spark, root)
    // the per-partition-group design attaches partition values as
    // LITERAL columns, so a partition predicate constant-folds inside
    // each union branch and Catalyst drops the non-matching group's
    // scan entirely — log-borne partition pruning for free, the thing
    // that keeps a 10k-partition table from scanning 10k groups
    val pruned = df.filter(col("part") === "a")
      .queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(pruned).length == 1,
      s"expected exactly one surviving scan:\n$pruned")
    assert(df.filter(col("part") === "a").count() == 5)
    // data-column predicates reach the scan as pushed filters
    val pushed = df.filter(col("id") > 3)
      .queryExecution.executedPlan.toString
    assert(pushed.contains("GreaterThan(id,3)"),
      s"data filter did not push into the scan:\n$pushed")
  }

  test("remove tombstones a prior add; versionAsOf resurrects it") {
    val (root, schema) = fixture("remove")
    commit(root, 0, meta(schema), add("f0.parquet", "a"),
      add("f%20one.parquet", "b"))
    commit(root, 1,
      """{"remove":{"path":"f0.parquet","deletionTimestamp":0,"dataChange":true}}""")
    assert(DeltaLogLite.read(spark, root).count() == 5)
    assert(DeltaLogLite.read(spark, root, Some(0L)).count() == 10)
    assert(DeltaLogLite.snapshot(spark, root).version == 1L)
    intercept[IllegalArgumentException] {
      DeltaLogLite.snapshot(spark, root, Some(7L))
    }
  }

  /** Write a checkpoint parquet holding metaData + the given adds. */
  private def writeCheckpoint(root: String, schema: String,
                              file: String,
                              adds: Seq[(String, String)],
                              withMeta: Boolean = true): Unit = {
    import spark.implicits._
    val addT = "struct<path:string,partitionValues:map<string,string>>"
    val metaT = "struct<schemaString:string,partitionColumns:array<string>>"
    val metaRow = spark.range(1).select(
      lit(null).cast(addT).as("add"),
      struct(lit(schema).as("schemaString"),
        array(lit("part")).as("partitionColumns")).as("metaData"))
    val addRows = adds.toDF("p", "v").select(
      struct(col("p").as("path"),
        map(lit("part"), col("v")).as("partitionValues")).as("add"),
      lit(null).cast(metaT).as("metaData"))
    val all = if (withMeta) metaRow.unionByName(addRows) else addRows
    LakeFiles.stage(all, "parquet", new java.io.File(s"$root/_tmpckpt"),
      new java.io.File(s"$root/_delta_log/$file"))
  }

  test("checkpoint replay: state loads from parquet, later JSON " +
    "commits apply, pre-checkpoint history is gone loudly") {
    val (root, schema) = fixture("ckpt")
    // commits 0 and 1 were vacuumed; checkpoint at 1 carries the state
    writeCheckpoint(root, schema, f"${1L}%020d.checkpoint.parquet",
      Seq(("f0.parquet", "a"), ("f%20one.parquet", "b")))
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":1}""")
    commit(root, 2,
      """{"remove":{"path":"f0.parquet","deletionTimestamp":0,"dataChange":true}}""")
    assert(DeltaLogLite.read(spark, root).count() == 5)
    assert(DeltaLogLite.snapshot(spark, root).version == 2L)
    // versionAsOf == checkpoint version: pure checkpoint state
    assert(DeltaLogLite.read(spark, root, Some(1L)).count() == 10)
    // versionAsOf BEFORE the checkpoint: its JSON commit is gone
    val e = intercept[IllegalArgumentException] {
      DeltaLogLite.snapshot(spark, root, Some(0L))
    }
    assert(e.getMessage.contains("predates the checkpoint"))
  }

  test("multi-part checkpoint loads every part") {
    val (root, schema) = fixture("ckptparts")
    writeCheckpoint(root, schema,
      f"${0L}%020d.checkpoint.${1}%010d.${2}%010d.parquet",
      Seq(("f0.parquet", "a")))
    writeCheckpoint(root, schema,
      f"${0L}%020d.checkpoint.${2}%010d.${2}%010d.parquet",
      Seq(("f%20one.parquet", "b")), withMeta = false)
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":0,"parts":2}""")
    assert(DeltaLogLite.read(spark, root).count() == 10)
  }

  test("versionAsOf before a checkpoint replays surviving JSON history") {
    val (root, schema) = fixture("ckptfull")
    commit(root, 0, meta(schema), add("f0.parquet", "a"))
    commit(root, 1, add("f%20one.parquet", "b"))
    writeCheckpoint(root, schema, f"${1L}%020d.checkpoint.parquet",
      Seq(("f0.parquet", "a"), ("f%20one.parquet", "b")))
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":1}""")
    assert(DeltaLogLite.read(spark, root, Some(0L)).count() == 5)
    assert(DeltaLogLite.read(spark, root).count() == 10)
  }

  test("malformed or incomplete _last_checkpoint refuses loudly") {
    val (root, schema) = fixture("ckptbad")
    commit(root, 0, meta(schema), add("f0.parquet", "a"))
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      "{not json")
    val e = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("_last_checkpoint"))
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":0}""") // names a checkpoint parquet that is absent
    val e2 = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e2.getMessage.contains("unreadable"))
  }

  test("version gap refuses loudly") {
    val (root, schema) = fixture("gap")
    commit(root, 0, meta(schema), add("f0.parquet", "a"))
    commit(root, 2, add("f%20one.parquet", "b"))
    val e = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("version gap"))
  }

  test("malformed action JSON and missing metaData refuse loudly") {
    val (root, schema) = fixture("bad")
    commit(root, 0, meta(schema), "{not json")
    val e = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("malformed action"))
    commit(root, 0, add("f0.parquet", "a")) // overwrite: no metaData
    val e2 = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e2.getMessage.contains("metaData"))
  }

  private def protocol(mrv: Int, feats: String*): String =
    s"""{"protocol":{"minReaderVersion":$mrv,"minWriterVersion":7""" +
      (if (feats.nonEmpty)
        s""","readerFeatures":[${feats.map(jstr).mkString(",")}]"""
      else "") + "}}"

  test("protocol gate: minReaderVersion=1/2 read green; 3 with " +
    "unsupported readerFeatures and unknown versions refuse loudly") {
    val (root, schema) = fixture("proto")
    commit(root, 0, protocol(1), meta(schema), add("f0.parquet", "a"),
      add("f%20one.parquet", "b"))
    assert(DeltaLogLite.read(spark, root).count() == 10)

    // reader version 2 = column mapping, which the reader now honors
    // (this table stays mode=none, so the map is empty)
    commit(root, 1, protocol(2))
    assert(DeltaLogLite.read(spark, root).count() == 10)

    // variantType is a real reader feature this reader does NOT
    // satisfy (v2Checkpoint moved to the supported set in round 14)
    commit(root, 2, protocol(3, "variantType"))
    val e3 = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e3.getMessage.contains("variantType"))
    // versionAsOf BEFORE the upgrade still reads — the snapshot's own
    // protocol is what gates, not the log head's
    assert(DeltaLogLite.read(spark, root, Some(1L)).count() == 10)

    commit(root, 3, protocol(4))
    val e4 = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e4.getMessage.contains("minReaderVersion=4"))
  }

  test("protocol gate: minReaderVersion=3 with only supported " +
    "readerFeatures reads green") {
    val (root, schema) = fixture("protook")
    commit(root, 0, protocol(3, "timestampNtz", "vacuumProtocolCheck"),
      meta(schema), add("f0.parquet", "a"))
    assert(DeltaLogLite.read(spark, root).count() == 5)
  }

  test("deletion vectors: snapshot carries the descriptor; a " +
    "malformed id refuses at read") {
    val (root, schema) = fixture("dv")
    commit(root, 0, meta(schema),
      s"""{"add":{"path":"f0.parquet","partitionValues":{"part":"a"},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":36,"cardinality":2}}}""")
    val snap = DeltaLogLite.snapshot(spark, root)
    assert(snap.files.head.deletionVector.exists(_.storageType == "u"))
    val e = intercept[IllegalStateException] {
      DeltaLogLite.read(spark, root).collect()
    }
    assert(e.getMessage.contains("base85 UUID"))
  }

  test("columnMapping mode=name reads: physical columns project back " +
    "to logical names, partitionValues resolve by physical key") {
    val root = "/tmp/graft_deltaspec/cmapread"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    // data file carries PHYSICAL column names col-aa / col-bb
    LakeFiles.Local(root).parquet(
      spark.range(0, 5).select(col("id").as("col-aa"),
        (col("id") * 2).as("col-bb")),
      "f0.parquet")
    // logical schema (id, v, part) whose field metadata names the
    // physical columns; `part` is log-borne and keyed physically
    def fld(name: String, tpe: String, phys: String): String =
      s"""{"name":${jstr(name)},"type":${jstr(tpe)},"nullable":true,
         |"metadata":{"delta.columnMapping.id":1,
         |"delta.columnMapping.physicalName":${jstr(phys)}}}"""
        .stripMargin.replace("\n", "")
    val schema = s"""{"type":"struct","fields":[${fld("id", "long",
      "col-aa")},${fld("v", "long", "col-bb")},${fld("part", "string",
      "col-pp")}]}"""
    val md =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"name"},"createdTime":0}}"""
    commit(root, 0, protocol(2), md,
      s"""{"add":{"path":"f0.parquet","partitionValues":{"col-pp":"a"},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got = DeltaLogLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "part"))
    import spark.implicits._
    assert(got.select("id", "v", "part").as[(Long, Long, String)]
      .collect().sorted.toSeq ==
      (0L to 4L).map(i => (i, i * 2, "a")))
  }

  test("columnMapping compaction: the rewrite re-stamps PHYSICAL " +
    "column names (mode=name) and parquet field ids (mode=id), " +
    "partitionValues stay physically keyed, reads stay model-equal") {
    import spark.implicits._
    def author(name: String, mode: String): String = {
      val root = s"/tmp/graft_deltaspec/$name"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "_delta_log"))
      val lake = LakeFiles.Local(root)
      // two data files under PHYSICAL names (id-mode files also get
      // stamped field ids, as an id-mode writer would produce)
      def mk(lo: Long, hi: Long) = {
        val base = spark.range(lo, hi).select(col("id").as("col-aa"),
          (col("id") * 2).as("col-bb"))
        if (mode == "id")
          graft.sources.IcebergLite.stampFieldIds(base,
            Map("col-aa" -> 1, "col-bb" -> 2))
        else base
      }
      lake.parquet(mk(0, 5), "f0.parquet")
      lake.parquet(mk(5, 10), "f1.parquet")
      def fld(n: String, tpe: String, phys: String, id: Int): String =
        s"""{"name":${jstr(n)},"type":${jstr(tpe)},"nullable":true,
           |"metadata":{"delta.columnMapping.id":$id,
           |"delta.columnMapping.physicalName":${jstr(phys)}}}"""
          .stripMargin.replace("\n", "")
      val schema = s"""{"type":"struct","fields":[${fld("id", "long",
        "col-aa", 1)},${fld("v", "long", "col-bb", 2)},${fld("part",
        "string", "col-pp", 3)}]}"""
      val md =
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":${jstr(mode)}},"createdTime":0}}"""
      commit(root, 0, protocol(2), md,
        s"""{"add":{"path":"f0.parquet","partitionValues":{"col-pp":"a"},"size":1,"modificationTime":0,"dataChange":true}}""",
        s"""{"add":{"path":"f1.parquet","partitionValues":{"col-pp":"b"},"size":1,"modificationTime":0,"dataChange":true}}""")
      root
    }
    for (mode <- Seq("name", "id")) {
      val root = author(s"cmapcompact$mode", mode)
      val before = DeltaLogLite.read(spark, root)
        .as[(Long, Long, String)].collect().sorted.toSeq
      assert(before.size == 10)
      assert(DeltaLogLite.compact(spark, root) == 1L)
      assert(DeltaLogLite.read(spark, root)
        .as[(Long, Long, String)].collect().sorted.toSeq == before,
        s"mode=$mode")
      val snap = DeltaLogLite.snapshot(spark, root)
      // one file per partition, partitionValues keyed PHYSICALLY
      assert(snap.files.size == 2 &&
        snap.files.forall(_.partitionValues.keySet == Set("col-pp")),
        s"mode=$mode: ${snap.files}")
      // the rewritten files carry PHYSICAL column names
      val newFile = DeltaLogLite.resolveAddPath(root,
        snap.files.head.path)
      val footerCols = spark.read.parquet(newFile).schema
      assert(footerCols.fieldNames.toSeq == Seq("col-aa", "col-bb"),
        s"mode=$mode: ${footerCols.fieldNames.toSeq}")
      if (mode == "id")
        // ...and stamped field ids, so id-resolution readers match
        assert(footerCols.fields.forall(f =>
          f.metadata.contains("parquet.field.id")), s"mode=$mode")
    }
  }

  test("columnMapping metadata-less fields refuse loudly under both " +
    "modes") {
    val (root, schema) = fixture("cmap")
    // mode=id over a schema with NO delta.columnMapping.id metadata:
    // malformed table
    val mdId =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"id"},"createdTime":0}}"""
    commit(root, 0, mdId, add("f0.parquet", "a"))
    val e = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("delta.columnMapping.id"))
    // mode=name whose fields carry NO physicalName metadata: malformed
    val mdName = mdId.replace(""""delta.columnMapping.mode":"id"""",
      """"delta.columnMapping.mode":"name"""")
    commit(root, 0, mdName, add("f0.parquet", "a"))
    val e2 = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e2.getMessage.contains("physicalName"))
    // mode=none is explicitly fine
    val mdNone =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"none"},"createdTime":0}}"""
    commit(root, 0, mdNone, add("f0.parquet", "a"))
    assert(DeltaLogLite.read(spark, root).count() == 5)
  }

  test("checkpoint-borne protocol gates the snapshot") {
    val (root, schema) = fixture("ckptproto")
    writeCheckpoint(root, schema, f"${0L}%020d.checkpoint.parquet",
      Seq(("f0.parquet", "a")))
    // splice a protocol column into a sibling single-part checkpoint
    // via a second parquet: simpler — author the checkpoint with an
    // explicit protocol row instead
    import spark.implicits._
    val addT = "struct<path:string,partitionValues:map<string,string>>"
    val metaT = "struct<schemaString:string,partitionColumns:array<string>>"
    val protoRow = spark.range(1).select(
      lit(null).cast(addT).as("add"),
      lit(null).cast(metaT).as("metaData"),
      struct(lit(4).as("minReaderVersion")).as("protocol"))
    val metaRow = spark.range(1).select(
      lit(null).cast(addT).as("add"),
      struct(lit(schema).as("schemaString"),
        array(lit("part")).as("partitionColumns")).as("metaData"),
      lit(null).cast("struct<minReaderVersion:int>").as("protocol"))
    val addRow = Seq(("f0.parquet", "a")).toDF("p", "v").select(
      struct(col("p").as("path"),
        map(lit("part"), col("v")).as("partitionValues")).as("add"),
      lit(null).cast(metaT).as("metaData"),
      lit(null).cast("struct<minReaderVersion:int>").as("protocol"))
    LakeFiles.Local(root).parquet(
      metaRow.unionByName(protoRow).unionByName(addRow),
      s"_delta_log/${f"${0L}%020d"}.checkpoint.parquet")
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":0}""")
    val e = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("minReaderVersion=4"))
  }

  /** Write a v2 checkpoint for `version`: a UUID-named parquet
    * MANIFEST (metaData + protocol[v2Checkpoint] + checkpointMetadata
    * declaring `declared` + one sidecar row per name) and one sidecar
    * parquet per (name, add-path) under _delta_log/_sidecars/. */
  private def writeV2Checkpoint(root: String, version: Long,
                                schema: String,
                                sidecars: Seq[(String, String)],
                                declared: Option[Long],
                                manifestNames: Option[Seq[String]] = None)
  : Unit = {
    Files.createDirectories(Paths.get(root, "_delta_log", "_sidecars"))
    val lake = LakeFiles.Local(root)
    val addT = "struct<path:string,partitionValues:map<string,string>>"
    for ((name, addPath) <- sidecars)
      lake.parquet(spark.range(1).select(
        struct(lit(addPath).as("path"),
          map(lit("part"), lit("a")).as("partitionValues")).as("add")),
        s"_delta_log/_sidecars/$name")
    val metaT = "struct<schemaString:string,partitionColumns:array<string>>"
    val protoT = "struct<minReaderVersion:int,readerFeatures:array<string>>"
    val ckT = "struct<version:bigint>"
    val scT = "struct<path:string>"
    def row(meta: org.apache.spark.sql.Column,
            proto: org.apache.spark.sql.Column,
            ck: org.apache.spark.sql.Column,
            sc: org.apache.spark.sql.Column) =
      spark.range(1).select(meta.cast(metaT).as("metaData"),
        proto.cast(protoT).as("protocol"),
        ck.cast(ckT).as("checkpointMetadata"), sc.cast(scT).as("sidecar"),
        lit(null).cast(addT).as("add"))
    val nul = lit(null)
    var df = row(struct(lit(schema).as("schemaString"),
      array(lit("part")).as("partitionColumns")), nul, nul, nul)
      .unionAll(row(nul, struct(lit(3).as("minReaderVersion"),
        array(lit("v2Checkpoint")).as("readerFeatures")), nul, nul))
    declared.foreach(v => df = df.unionAll(
      row(nul, nul, struct(lit(v).as("version")), nul)))
    for (name <- manifestNames.getOrElse(sidecars.map(_._1)))
      df = df.unionAll(row(nul, nul, nul,
        struct(lit(name).as("path"))))
    lake.parquet(df, s"_delta_log/${f"$version%020d"}.checkpoint." +
      "11112222-3333-4444-5555-666677778888.parquet")
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      s"""{"version":$version}""")
  }

  test("v2 checkpoint: manifest + sidecars reconstruct the state " +
    "with the classic JSONs gone; v2Checkpoint feature gates green") {
    val (root, schema) = fixture("v2happy")
    // no JSON commits at all for versions 0..1 — only the v2
    // checkpoint can serve the snapshot
    writeV2Checkpoint(root, 1L, schema,
      Seq("sc-0.parquet" -> "f0.parquet",
        "sc-1.parquet" -> "f%20one.parquet"), declared = Some(1L))
    commit(root, 2, add("f0.parquet", "c"))
    val snap = DeltaLogLite.snapshot(spark, root)
    assert(snap.version == 2L)
    val got = DeltaLogLite.read(spark, root)
    assert(got.count() == 10)
    // f0 was re-added by commit 2 under part=c (replay wins over the
    // checkpoint's sidecar state); "f one" keeps the sidecar's part=a
    assert(got.filter(col("part") === "c").count() == 5)
    assert(got.filter(col("part") === "a").count() == 5)
  }

  test("v2 checkpoint: JSON manifest variant, txn history carried") {
    val (root, schema) = fixture("v2json")
    Files.createDirectories(Paths.get(root, "_delta_log", "_sidecars"))
    // sidecar via the parquet helper, manifest as NDJSON actions
    writeV2Checkpoint(root, 1L, schema,
      Seq("sc-x.parquet" -> "f0.parquet"), declared = Some(1L))
    // replace the parquet manifest with a JSON one (same version):
    // delete the parquet so the JSON manifest is the only candidate
    Files.delete(Paths.get(root, "_delta_log",
      f"${1L}%020d.checkpoint." +
        "11112222-3333-4444-5555-666677778888.parquet"))
    Files.writeString(Paths.get(root, "_delta_log",
      f"${1L}%020d.checkpoint.11112222-3333-4444-5555-666677778888.json"),
      Seq(
        s"""{"checkpointMetadata":{"version":1}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{},"createdTime":0}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"]}}""",
        """{"txn":{"appId":"streamA","version":7}}""",
        """{"sidecar":{"path":"sc-x.parquet","sizeInBytes":1}}""")
        .mkString("", "\n", "\n"))
    val got = DeltaLogLite.read(spark, root)
    assert(got.count() == 5)
    // exactly-once surface: the checkpoint-carried txn is visible
    assert(DeltaLogLite.latestTxnVersion(spark, root, "streamA")
      .contains(7L))
  }

  test("v2 checkpoint: missing sidecar and version mismatch refuse " +
    "loudly") {
    val (root, schema) = fixture("v2bad")
    writeV2Checkpoint(root, 1L, schema,
      Seq("sc-gone.parquet" -> "f0.parquet"), declared = Some(1L))
    Files.delete(Paths.get(root, "_delta_log", "_sidecars",
      "sc-gone.parquet"))
    val e = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("sc-gone.parquet"))
    val (root2, schema2) = fixture("v2mismatch")
    writeV2Checkpoint(root2, 1L, schema2,
      Seq("sc-0.parquet" -> "f0.parquet"), declared = Some(5L))
    val e2 = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root2)
    }
    assert(e2.getMessage.contains("declares version 5"))
    val (root3, schema3) = fixture("v2nometa")
    writeV2Checkpoint(root3, 1L, schema3,
      Seq("sc-0.parquet" -> "f0.parquet"), declared = None)
    val e3 = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root3)
    }
    assert(e3.getMessage.contains("checkpointMetadata"))
  }

  test("v2 checkpoint: sidecar paths percent-decode and may be " +
    "absolute file: URIs; foreign schemes refuse") {
    val (root, schema) = fixture("v2scpaths")
    // manifest spells one sidecar percent-encoded ("sc%2D0" → sc-0)
    // and the other as an absolute file: URI — both spec-legal
    writeV2Checkpoint(root, 1L, schema,
      Seq("sc-0.parquet" -> "f0.parquet",
        "sc-1.parquet" -> "f%20one.parquet"),
      declared = Some(1L),
      manifestNames = Some(Seq("sc%2D0.parquet",
        s"file://$root/_delta_log/_sidecars/sc-1.parquet")))
    assert(DeltaLogLite.read(spark, root).count() == 10)
    val (root2, schema2) = fixture("v2scheme")
    writeV2Checkpoint(root2, 1L, schema2,
      Seq("sc-0.parquet" -> "f0.parquet"), declared = Some(1L),
      manifestNames = Some(Seq("s3://bucket/sc-0.parquet")))
    val e = intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, root2)
    }
    assert(e.getMessage.contains("unsupported scheme"))
  }

  test("txn lookup refuses when the checkpoint is unreadable instead " +
    "of silently dropping dedup state") {
    val (root, schema) = fixture("txnckpt")
    writeV2Checkpoint(root, 1L, schema,
      Seq("sc-0.parquet" -> "f0.parquet"), declared = Some(1L))
    // destroy BOTH checkpoint spellings; _last_checkpoint still names
    // version 1 — the exactly-once surface must refuse, not return None
    Files.delete(Paths.get(root, "_delta_log",
      f"${1L}%020d.checkpoint." +
        "11112222-3333-4444-5555-666677778888.parquet"))
    val e = intercept[IllegalStateException] {
      DeltaLogLite.latestTxnVersion(spark, root, "streamA")
    }
    assert(e.getMessage.contains("unreadable"))
  }

  test("base85 (RFC 1924 alphabet, 4-byte groups) decodes known " +
    "vectors and refuses malformed input") {
    // Delta's codec is GROUP-WISE: each 5 chars are one big-endian
    // 32-bit value in the RFC 1924 alphabet (0-9 A-Z a-z then
    // !#$%&()*+-;<=>?@^_`{|}~). Hand-checked vectors:
    assert(DeltaLogLite.base85Decode("00000").toSeq ==
      Seq[Byte](0, 0, 0, 0))
    assert(DeltaLogLite.base85Decode("00001").toSeq ==
      Seq[Byte](0, 0, 0, 1))
    assert(DeltaLogLite.base85Decode("0000A").toSeq ==
      Seq[Byte](0, 0, 0, 10)) // 'A' is digit 10
    assert(DeltaLogLite.base85Decode("0000~").toSeq ==
      Seq[Byte](0, 0, 0, 84)) // '~' is the last digit, 84
    // 85^4 = 52200625 = 0x031C84B1
    assert(DeltaLogLite.base85Decode("10000").toSeq ==
      Seq(0x03, 0x1C, 0x84, 0xB1).map(_.toByte))
    intercept[IllegalStateException] {
      DeltaLogLite.base85Decode("abc") // not a multiple of 5
    }
    intercept[IllegalStateException] {
      DeltaLogLite.base85Decode("ab\"de") // outside the alphabet
    }
    intercept[IllegalStateException] {
      DeltaLogLite.base85Decode("~~~~~") // 85^5-1 exceeds 32 bits
    }
  }

  /** Frame a DV file: [version 1][BE size][data][CRC32(data)] where
    * data = LE magic + RoaringBitmapArray portable payload. */
  private def writeDvFile(path: String,
                          bitmaps: Seq[(Int, Seq[Int])]): Int = {
    val bos = new java.io.ByteArrayOutputStream()
    val head = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    head.putInt(1681511377)
    head.putLong(bitmaps.length.toLong)
    bos.write(head.array())
    val dos = new java.io.DataOutputStream(bos)
    for ((key, positions) <- bitmaps) {
      val k = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      k.putInt(key)
      bos.write(k.array())
      val bmp = new org.roaringbitmap.RoaringBitmap()
      positions.foreach(bmp.add)
      bmp.serialize(dos)
      dos.flush()
    }
    val data = bos.toByteArray
    val crc = new java.util.zip.CRC32
    crc.update(data)
    val framed = java.nio.ByteBuffer.allocate(1 + 4 + data.length + 4)
    framed.put(1.toByte)
    framed.putInt(data.length)
    framed.put(data)
    framed.putInt(crc.getValue.toInt)
    Files.write(Paths.get(path), framed.array())
    data.length
  }

  test("deletion-vector decode: multi-bitmap keys, frame checks loud") {
    val root = "/tmp/graft_deltaspec/dvdecode"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root))
    // two 32-bit bitmaps: key 0 holds {1, 2}, key 1 holds {5} — the
    // decoded 64-bit ordinals must cross the key boundary correctly
    // (this also pins the buffer-advance behavior between bitmaps)
    val size = writeDvFile(s"$root/dv.bin",
      Seq(0 -> Seq(1, 2), 1 -> Seq(5)))
    val got = DeltaLogLite.decodeDvFile(s"$root/dv.bin", 1L, size, 3L)
      .toSeq.sorted
    assert(got == Seq(1L, 2L, (1L << 32) + 5L))
    // descriptor cardinality mismatch is loud
    intercept[IllegalStateException] {
      DeltaLogLite.decodeDvFile(s"$root/dv.bin", 1L, size, 7L).toSeq
    }
    // corrupt one data byte: CRC refuses
    val bytes = Files.readAllBytes(Paths.get(s"$root/dv.bin"))
    bytes(9) = (bytes(9) ^ 0x7f).toByte
    Files.write(Paths.get(s"$root/dv2.bin"), bytes)
    val e = intercept[IllegalStateException] {
      DeltaLogLite.decodeDvFile(s"$root/dv2.bin", 1L, size, 3L).toSeq
    }
    assert(e.getMessage.contains("checksum"))
    // wrong version byte refuses
    val b3 = Files.readAllBytes(Paths.get(s"$root/dv.bin"))
    b3(0) = 9
    Files.write(Paths.get(s"$root/dv3.bin"), b3)
    val e3 = intercept[IllegalStateException] {
      DeltaLogLite.decodeDvFile(s"$root/dv3.bin", 1L, size, 3L).toSeq
    }
    assert(e3.getMessage.contains("version 9"))
  }

  test("deletion vector over a space-named data file still deletes " +
    "(encoded metadata path decodes for the anti-join)") {
    val (root, schema) = fixture("dvenc")
    // `f one.parquet` holds ids 5..9; kill its ordinals 0 and 1
    // (ids 5, 6). Spark reports the scan's file path percent-ENCODED
    // (.../f%20one.parquet) while the descriptor side keys on the
    // decoded add.path — an undecoded join key would match nothing
    // and silently resurrect both rows.
    val size = writeDvFile(s"$root/dv-enc.bin", Seq(0 -> Seq(0, 1)))
    commit(root, 0, protocol(3, "deletionVectors"), meta(schema),
      add("f0.parquet", "a"),
      s"""{"add":{"path":"f%20one.parquet","partitionValues":{"part":"b"},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"p","pathOrInlineDv":${jstr(s"$root/dv-enc.bin")},"offset":1,"sizeInBytes":$size,"cardinality":2}}}""")
    import spark.implicits._
    val got = DeltaLogLite.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq
    assert(got == Seq(0L, 1L, 2L, 3L, 4L, 7L, 8L, 9L))
  }

  test("offset-less DV descriptor reads the single-DV-file layout " +
    "(data at offset 1, after the version byte)") {
    val (root, schema) = fixture("dvnooff")
    // kill f0.parquet's ordinal 0 (id 0); the descriptor carries NO
    // offset field — per the protocol that means the file holds one
    // DV whose data starts right after the 1-byte version
    val size = writeDvFile(s"$root/dv-sole.bin", Seq(0 -> Seq(0)))
    commit(root, 0, protocol(3, "deletionVectors"), meta(schema),
      s"""{"add":{"path":"f0.parquet","partitionValues":{"part":"a"},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"p","pathOrInlineDv":${jstr(s"$root/dv-sole.bin")},"sizeInBytes":$size,"cardinality":1}}}""")
    val snap = DeltaLogLite.snapshot(spark, root)
    assert(snap.files.head.deletionVector.exists(_.offset == 1L))
    import spark.implicits._
    val got = DeltaLogLite.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq
    assert(got == (1L to 4L))
  }

  test("timestamp-travel ties resolve to the latest version") {
    val (root, schema) = fixture("tstie")
    commit(root, 0, """{"commitInfo":{"timestamp":5000}}""",
      meta(schema), add("f0.parquet", "a"))
    commit(root, 1, """{"commitInfo":{"timestamp":5000}}""",
      add("f%20one.parquet", "b"))
    // both commits share the stamp: timestampAsOf picks the LATEST
    // version at-or-before the instant, so version 1 (10 rows)
    assert(DeltaLogLite.versionAtTimestamp(spark, root, 5000L) == 1L)
    assert(DeltaLogLite.read(spark, root,
      timestampAsOf = Some(5000L)).count() == 10)
  }

  test("reversed change-feed range refuses loudly") {
    val e = intercept[IllegalArgumentException] {
      DeltaLogLite.readChanges(spark, "/tmp/graft_deltaspec/revrange",
        2L, 1L)
    }
    assert(e.getMessage.contains("reversed"))
  }

  /** RFC-1924 base85 ENCODE with zero-padding to 4-byte groups (how
    * Delta's codec handles arbitrary-length inline payloads); the
    * descriptor's sizeInBytes pins the real length for the decoder. */
  private def base85Encode(bytes: Array[Byte]): String = {
    val alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      "abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~"
    val padded = bytes ++ Array.fill((4 - bytes.length % 4) % 4)(0.toByte)
    val bb = java.nio.ByteBuffer.wrap(padded)
    val sb = new StringBuilder
    while (bb.hasRemaining) {
      var acc = bb.getInt.toLong & 0xffffffffL
      val grp = new Array[Char](5)
      for (i <- 4 to 0 by -1) { grp(i) = alphabet((acc % 85).toInt); acc /= 85 }
      sb.appendAll(grp)
    }
    sb.toString
  }

  test("inline deletion vectors (storageType i) delete their rows") {
    val (root, schema) = fixture("dvinline")
    // payload = LE magic + one roaring bitmap holding ordinals {0, 2}
    // of f0 (ids 0 and 2 die) — base85-encoded INTO the descriptor
    val bos = new java.io.ByteArrayOutputStream()
    val head = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    head.putInt(1681511377); head.putLong(1L); head.putInt(0)
    bos.write(head.array())
    val bmp = new org.roaringbitmap.RoaringBitmap()
    bmp.add(0); bmp.add(2)
    val dos = new java.io.DataOutputStream(bos)
    bmp.serialize(dos); dos.flush()
    val payload = bos.toByteArray
    val enc = base85Encode(payload)
    commit(root, 0,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      meta(schema),
      s"""{"add":{"path":"f0.parquet","partitionValues":{"part":"a"},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":${jstr(enc)},"sizeInBytes":${payload.length},"cardinality":2}}}""")
    import spark.implicits._
    assert(DeltaLogLite.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L))
    // a corrupted inline payload (wrong size claim) refuses loudly
    commit(root, 1,
      s"""{"add":{"path":"f0.parquet","partitionValues":{"part":"a"},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":${jstr(enc)},"sizeInBytes":${payload.length - 9},"cardinality":2}}}""")
    val e = intercept[IllegalStateException] {
      DeltaLogLite.read(spark, root).collect()
    }
    assert(e.getMessage.contains("sizeInBytes"))
  }

  test("columnMapping mode=id reads: data columns resolve by parquet " +
    "field id under logical names") {
    val root = "/tmp/graft_deltaspec/cmapid"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    // data file carries PHYSICAL names col-aa/col-bb AND field ids
    // 42/43 — id-mode writers stamp both
    LakeFiles.Local(root).parquet(
      graft.sources.IcebergLite.stampFieldIds(
        spark.range(0, 5).select(col("id").as("col-aa"),
          (col("id") * 2).as("col-bb")),
        Map("col-aa" -> 42, "col-bb" -> 43)),
      "f0.parquet")
    def fld(name: String, tpe: String, id: Int, phys: String): String =
      s"""{"name":${jstr(name)},"type":${jstr(tpe)},"nullable":true,
         |"metadata":{"delta.columnMapping.id":$id,
         |"delta.columnMapping.physicalName":${jstr(phys)}}}"""
        .stripMargin.replace("\n", "")
    val schema = s"""{"type":"struct","fields":[${fld("id", "long", 42,
      "col-aa")},${fld("v", "long", 43, "col-bb")},${fld("part",
      "string", 44, "col-pp")}]}"""
    val md =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"id"},"createdTime":0}}"""
    commit(root, 0, protocol(2), md,
      s"""{"add":{"path":"f0.parquet","partitionValues":{"col-pp":"a"},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got = DeltaLogLite.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "part"))
    import spark.implicits._
    assert(got.select("id", "v", "part").as[(Long, Long, String)]
      .collect().sorted.toSeq ==
      (0L to 4L).map(i => (i, i * 2, "a")))
  }

  test("change feed: blind appends synthesize inserts, cdc commits " +
    "serve their files verbatim, refusals are loud") {
    import spark.implicits._
    val root = "/tmp/graft_deltaspec/cdf"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val lake = LakeFiles.Local(root)
    val base = spark.range(0, 5).select(col("id"), (col("id") * 2).as("v"))
    lake.parquet(base, "f0.parquet")
    lake.parquet(base.filter(col("id") === 0)
      .select(col("id"), col("v"), lit("delete").as("_change_type")),
      "cdc1.parquet")
    val schema = base.schema.json
    val md =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    commit(root, 0, md,
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    // commit 1: a delete materialized as a cdc file; the remove MUST
    // be ignored because the cdc file is authoritative
    commit(root, 1,
      """{"cdc":{"path":"cdc1.parquet","partitionValues":{},"size":1,"dataChange":false}}""",
      """{"remove":{"path":"f0.parquet","deletionTimestamp":0,"dataChange":true}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got = DeltaLogLite.readChanges(spark, root, 0L, 1L)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got ==
      ((0L to 4L).map(i => (i, "insert", 0L)) :+ ((0L, "delete", 1L))).sorted)

    // cdc-less dataChange remove: synthesized per the protocol's
    // fallback rule — the removed file's live content as deletes
    commit(root, 2,
      """{"remove":{"path":"f0.parquet","deletionTimestamp":0,"dataChange":true}}""")
    val gotRm = DeltaLogLite.readChanges(spark, root, 0L, 2L)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(gotRm == (
      (0L to 4L).map(i => (i, "insert", 0L)) ++
        Seq((0L, "delete", 1L)) ++
        (0L to 4L).map(i => (i, "delete", 2L))).sorted)

    // CDF off: refuse
    val mdOff = md.replace(
      """"delta.enableChangeDataFeed":"true"""",
      """"delta.enableChangeDataFeed":"false"""")
    commit(root, 0, mdOff,
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val e2 = intercept[IllegalStateException] {
      DeltaLogLite.readChanges(spark, root, 0L, 1L)
    }
    assert(e2.getMessage.contains("enableChangeDataFeed"))
  }

  test("change feed synthesis: remove+re-add with a GROWN deletion " +
    "vector emits exactly the newly-dead rows; a shrinking vector " +
    "and a cdc-less in-commit rewrite refuse") {
    import spark.implicits._
    val root = "/tmp/graft_deltaspec/cdfsynth"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    LakeFiles.Local(root).parquet(
      spark.range(0, 6).select(col("id"), (col("id") * 3).as("v")),
      "f0.parquet")
    val schema =
      """{"type":"struct","fields":[
        |{"name":"id","type":"long","nullable":true,"metadata":{}},
        |{"name":"v","type":"long","nullable":true,"metadata":{}}]}"""
        .stripMargin.replace("\n", "")
    val md =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    def dvJson(file: String, size: Int, card: Int): String =
      s"""{"storageType":"p","pathOrInlineDv":${jstr(s"$root/$file")},"offset":1,"sizeInBytes":$size,"cardinality":$card}"""
    def addF0(dv: Option[String]): String =
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true""" +
        dv.map(j => s""","deletionVector":$j""").getOrElse("") + "}}"
    def removeF0(dv: Option[String]): String =
      s"""{"remove":{"path":"f0.parquet","deletionTimestamp":0,"dataChange":true""" +
        dv.map(j => s""","deletionVector":$j""").getOrElse("") + "}}"
    commit(root, 0, protocol(3, "deletionVectors"), md, addF0(None))
    // commit 1: first DV kills ordinals {1,2}
    val s1 = writeDvFile(s"$root/dv1.bin", Seq((0, Seq(1, 2))))
    val dv1 = dvJson("dv1.bin", s1, 2)
    commit(root, 1, removeF0(None), addF0(Some(dv1)))
    // commit 2: the DV GROWS to {1,2,4} — net change is ordinal 4 only
    val s2 = writeDvFile(s"$root/dv2.bin", Seq((0, Seq(1, 2, 4))))
    val dv2 = dvJson("dv2.bin", s2, 3)
    commit(root, 2, removeF0(Some(dv1)), addF0(Some(dv2)))
    val got = DeltaLogLite.readChanges(spark, root, 0L, 2L)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got == (
      (0L to 5L).map(i => (i, "insert", 0L)) ++
        Seq((1L, "delete", 1L), (2L, "delete", 1L),
          (4L, "delete", 2L))).sorted)
    // a SHRINKING vector (restore) refuses
    commit(root, 3, removeF0(Some(dv2)), addF0(Some(dv1)))
    val e = intercept[IllegalStateException] {
      DeltaLogLite.readChanges(spark, root, 0L, 3L)
    }
    assert(e.getMessage.contains("SHRANK"))
    // a cdc-less in-commit REWRITE (same path, no DV) refuses
    commit(root, 3, removeF0(Some(dv2)), addF0(None))
    val e2 = intercept[IllegalStateException] {
      DeltaLogLite.readChanges(spark, root, 0L, 3L)
    }
    assert(e2.getMessage.contains("outside synthesized-CDF scope"))
  }

  test("change feed on a COLUMN-MAPPED table: cdc files read under " +
    "physical names, _change_type under its literal name; blind " +
    "appends project back to logical names") {
    import spark.implicits._
    val root = "/tmp/graft_deltaspec/cdfmap"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val lake = LakeFiles.Local(root)
    // data + cdc files store PHYSICAL names; _change_type literal
    val base = spark.range(0, 5).select(col("id").as("col-a"),
      (col("id") * 2).as("col-b"))
    lake.parquet(base, "f0.parquet")
    lake.parquet(base.filter(col("col-a") === 1)
      .select(col("col-a"), (col("col-b") * 10).as("col-b"),
        lit("update_postimage").as("_change_type")), "cdc1.parquet")
    def fld(name: String, phys: String): String =
      s"""{"name":${jstr(name)},"type":"long","nullable":true,
         |"metadata":{"delta.columnMapping.physicalName":${jstr(phys)}}}"""
        .stripMargin.replace("\n", "")
    val schema =
      s"""{"type":"struct","fields":[${fld("id", "col-a")},${
        fld("v", "col-b")}]}"""
    val md =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    commit(root, 0, protocol(2), md,
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    commit(root, 1,
      """{"cdc":{"path":"cdc1.parquet","partitionValues":{},"size":1,"dataChange":false}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got = DeltaLogLite.readChanges(spark, root, 0L, 1L)
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, Long, String, Long)].collect().sorted.toSeq
    assert(got == ((0L to 4L).map(i => (i, i * 2, "insert", 0L)) :+
      ((1L, 20L, "update_postimage", 1L))).sorted)

    // mode=id: the cdc file's data columns resolve by FIELD ID while
    // _change_type (id-less in the file) still resolves by name
    val root2 = "/tmp/graft_deltaspec/cdfmapid"
    rm(new java.io.File(root2))
    Files.createDirectories(Paths.get(root2, "_delta_log"))
    val lake2 = LakeFiles.Local(root2)
    val stamped = graft.sources.IcebergLite.stampFieldIds(
      spark.range(0, 3).select(col("id").as("col-a"),
        (col("id") * 2).as("col-b")),
      Map("col-a" -> 42, "col-b" -> 43))
    lake2.parquet(stamped, "f0.parquet")
    lake2.parquet(graft.sources.IcebergLite.stampFieldIds(
      spark.range(0, 1).select(col("id").as("col-a"),
        lit(99L).as("col-b")),
      Map("col-a" -> 42, "col-b" -> 43))
      .withColumn("_change_type", lit("update_postimage")),
      "cdc1.parquet")
    def fldId(name: String, phys: String, id: Int): String =
      s"""{"name":${jstr(name)},"type":"long","nullable":true,
         |"metadata":{"delta.columnMapping.id":$id,
         |"delta.columnMapping.physicalName":${jstr(phys)}}}"""
        .stripMargin.replace("\n", "")
    val schema2 = s"""{"type":"struct","fields":[${
      fldId("id", "col-a", 42)},${fldId("v", "col-b", 43)}]}"""
    val md2 =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema2)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    commit(root2, 0, protocol(2), md2,
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    commit(root2, 1,
      """{"cdc":{"path":"cdc1.parquet","partitionValues":{},"size":1,"dataChange":false}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val got2 = DeltaLogLite.readChanges(spark, root2, 0L, 1L)
      .select("id", "v", "_change_type")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(got2 == ((0L to 2L).map(i => (i, i * 2, "insert")) :+
      ((0L, 99L, "update_postimage"))).sorted)
  }

  test("timestamp travel rides commitInfo timestamps; unstamped/" +
    "too-early refuse loudly") {
    val (root, schema) = fixture("tstravel")
    commit(root, 0, """{"commitInfo":{"timestamp":1000}}""",
      meta(schema), add("f0.parquet", "a"))
    commit(root, 1, """{"commitInfo":{"timestamp":2000}}""",
      add("f%20one.parquet", "b"))
    assert(DeltaLogLite.versionAtTimestamp(spark, root, 1500L) == 0L)
    assert(DeltaLogLite.versionAtTimestamp(spark, root, 2000L) == 1L)
    assert(DeltaLogLite.read(spark, root,
      timestampAsOf = Some(1500L)).count() == 5)
    val e = intercept[IllegalArgumentException] {
      DeltaLogLite.versionAtTimestamp(spark, root, 999L)
    }
    assert(e.getMessage.contains("no commit at or before"))
    // a commit without commitInfo.timestamp refuses (determinism: file
    // mtimes are never consulted)
    commit(root, 2, add("f0.parquet", "c"))
    val e2 = intercept[IllegalStateException] {
      DeltaLogLite.versionAtTimestamp(spark, root, 1500L)
    }
    assert(e2.getMessage.contains("commitInfo.timestamp"))
  }

  test("a malformed action line in an older commit fails txn lookup, " +
    "timestamp travel and vacuum, naming that commit") {
    val (root, schema) = fixture("strict")
    commit(root, 0, """{"commitInfo":{"timestamp":1000}}""",
      meta(schema), add("f0.parquet", "a"))
    // the stamp comes first: a reader that stops at it never sees the
    // bad line, and one that skips bad lines loses the txn after it
    commit(root, 1, """{"commitInfo":{"timestamp":2000}}""", "{not json",
      """{"txn":{"appId":"streamA","version":3}}""")
    commit(root, 2, """{"commitInfo":{"timestamp":3000}}""",
      add("f%20one.parquet", "b"))
    val bad = f"${1L}%020d.json"
    for ((what, call) <- Seq[(String, () => Any)](
        "latestTxnVersion" ->
          (() => DeltaLogLite.latestTxnVersion(spark, root, "streamA")),
        "versionAtTimestamp" ->
          (() => DeltaLogLite.versionAtTimestamp(spark, root, 2500L)),
        "vacuum" -> (() => DeltaLogLite.vacuum(spark, root)))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(bad) &&
        e.getMessage.contains("malformed action"), s"$what: ${e.getMessage}")
    }
  }

  test("randomized model check: every version of a random " +
    "add/remove/DV commit sequence equals an in-memory file-set " +
    "model, across seeds") {
    import spark.implicits._
    final case class F(name: String, rows: Seq[Long], dead: Set[Int])
    for (seed <- Seq(13, 60, 947)) {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_deltaspec/model$seed"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "_delta_log"))
      val schema = spark.range(0, 1)
        .select(col("id"), (col("id") * 2).as("v")).schema.json
      val metaLine =
        s"""{"metaData":{"id":"m$seed","format":{"provider":"parquet",
           |"options":{}},"schemaString":${jstr(schema)},
           |"partitionColumns":[],"configuration":{},"createdTime":0}}"""
          .stripMargin.replace("\n", "")
      var nextBase = 0L
      def newDataFile(): F = {
        val n = 3 + rnd.nextInt(5)
        val rows = (nextBase until nextBase + n).toSeq
        nextBase += 100
        val name = s"f${rows.head}.parquet"
        LakeFiles.Local(root).parquet(
          spark.range(rows.head, rows.head + n)
            .select(col("id"), (col("id") * 2).as("v")),
          name)
        F(name, rows, Set.empty)
      }
      def addLine(f: F, v: Long): String = {
        val dv = if (f.dead.isEmpty) "" else {
          // a fresh DV file per re-add: the descriptor's bitmap is
          // the UNION of everything dead in the file so far
          val size = writeDvFile(s"$root/dv-$v-${f.rows.head}.bin",
            Seq(0 -> f.dead.toSeq.sorted))
          s""","deletionVector":{"storageType":"p",
             |"pathOrInlineDv":${jstr(s"$root/dv-$v-${f.rows.head}.bin")},
             |"offset":1,"sizeInBytes":$size,
             |"cardinality":${f.dead.size}}""".stripMargin.replace("\n", "")
        }
        s"""{"add":{"path":"${f.name}","partitionValues":{},"size":1,
           |"modificationTime":0,"dataChange":true$dv}}"""
          .stripMargin.replace("\n", "")
      }
      var live = Vector.empty[F]
      val nVersions = 3 + rnd.nextInt(3)
      val states =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Vector[F])]
      for (v <- 0L until nVersions.toLong) {
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        if (v == 0L) {
          lines += protocol(3, "deletionVectors")
          lines += metaLine
        }
        val op = if (live.isEmpty) "add"
          else Seq("add", "remove", "dv")(rnd.nextInt(3))
        op match {
          case "add" =>
            val f = newDataFile()
            live :+= f
            lines += addLine(f, v)
          case "remove" =>
            val i = rnd.nextInt(live.size)
            lines += s"""{"remove":{"path":"${live(i).name}",""" +
              """"dataChange":true}}"""
            live = live.patch(i, Nil, 1)
          case "dv" =>
            val i = rnd.nextInt(live.size)
            val f = live(i).copy(dead = live(i).dead ++
              (0 until (1 + rnd.nextInt(3))).map(_ =>
                rnd.nextInt(live(i).rows.size)))
            live = live.updated(i, f)
            // the re-add with the new DV supersedes the previous
            // entry for the same path in the log replay
            lines += addLine(f, v)
        }
        commit(root, v, lines.toSeq: _*)
        states += ((v, live))
      }
      for ((v, model) <- states) {
        val got = DeltaLogLite.read(spark, root, versionAsOf = Some(v))
          .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
        val want = model.flatMap(f => f.rows.zipWithIndex.collect {
          case (id, ord) if !f.dead.contains(ord) => (id, id * 2)
        }).sorted
        assert(got == want,
          s"seed $seed version $v: got $got, want $want")
      }
    }
  }

  test("randomized model check: the synthesized change feed of a " +
    "random add/remove/DV-grow commit sequence equals the in-memory " +
    "diff model, across seeds") {
    import spark.implicits._
    final case class F(name: String, rows: Seq[Long], dead: Set[Int],
                       dvJson: Option[String])
    for (seed <- Seq(7, 83, 402)) {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_deltaspec/cdfmodel$seed"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "_delta_log"))
      val schema = spark.range(0, 1)
        .select(col("id"), (col("id") * 2).as("v")).schema.json
      val metaLine =
        s"""{"metaData":{"id":"cm$seed","format":{"provider":"parquet",
           |"options":{}},"schemaString":${jstr(schema)},
           |"partitionColumns":[],"configuration":
           |{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
          .stripMargin.replace("\n", "")
      var nextBase = 0L
      def newDataFile(): F = {
        val n = 3 + rnd.nextInt(5)
        val rows = (nextBase until nextBase + n).toSeq
        nextBase += 100
        val name = s"f${rows.head}.parquet"
        LakeFiles.Local(root).parquet(
          spark.range(rows.head, rows.head + n)
            .select(col("id"), (col("id") * 2).as("v")),
          name)
        F(name, rows, Set.empty, None)
      }
      // (re)stamp f's descriptor: a fresh DV file per version, bitmap
      // = the UNION of everything dead in the file so far
      def withDv(f: F, v: Long): F =
        if (f.dead.isEmpty) f
        else {
          val p = s"$root/dv-$v-${f.rows.head}.bin"
          val size = writeDvFile(p, Seq(0 -> f.dead.toSeq.sorted))
          f.copy(dvJson = Some(
            s"""{"storageType":"p","pathOrInlineDv":${jstr(p)},
               |"offset":1,"sizeInBytes":$size,
               |"cardinality":${f.dead.size}}"""
              .stripMargin.replace("\n", "")))
        }
      def addLine(f: F): String =
        s"""{"add":{"path":"${f.name}","partitionValues":{},"size":1,
           |"modificationTime":0,"dataChange":true""".stripMargin
          .replace("\n", "") +
          f.dvJson.map(j => s""","deletionVector":$j""").getOrElse("") +
          "}}"
      def removeLine(f: F): String =
        s"""{"remove":{"path":"${f.name}","dataChange":true""" +
          f.dvJson.map(j => s""","deletionVector":$j""").getOrElse("") +
          "}}"
      var live = Vector.empty[F]
      val nVersions = 4 + rnd.nextInt(3)
      val expected =
        scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      for (v <- 0L until nVersions.toLong) {
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        if (v == 0L) {
          lines += protocol(3, "deletionVectors")
          lines += metaLine
        }
        val op = if (live.isEmpty) "add"
          else Seq("add", "remove", "dv")(rnd.nextInt(3))
        op match {
          case "add" =>
            val f = newDataFile()
            live :+= f
            lines += addLine(f)
            expected ++= f.rows.map(id => (id, "insert", v))
          case "remove" =>
            val i = rnd.nextInt(live.size)
            val f = live(i)
            lines += removeLine(f)
            live = live.patch(i, Nil, 1)
            expected ++= f.rows.zipWithIndex.collect {
              case (id, ord) if !f.dead.contains(ord) => (id, "delete", v)
            }
          case "dv" =>
            val i = rnd.nextInt(live.size)
            val old = live(i)
            val grown = withDv(old.copy(dead = old.dead ++
              (0 until (1 + rnd.nextInt(3))).map(_ =>
                rnd.nextInt(old.rows.size))), v)
            live = live.updated(i, grown)
            // the remove carries the OLD descriptor, the re-add the
            // grown one — the synthesized delete is their set diff
            lines += removeLine(old)
            lines += addLine(grown)
            expected ++= (grown.dead -- old.dead).toSeq.sorted.map(ord =>
              (old.rows(ord), "delete", v))
        }
        commit(root, v, lines.toSeq: _*)
      }
      val got = DeltaLogLite
        .readChanges(spark, root, 0L, nVersions - 1L)
        .select(col("id"), col("_change_type"), col("_commit_version"))
        .as[(Long, String, Long)].collect().sorted.toSeq
      assert(got == expected.sorted.toSeq,
        s"seed $seed: got $got, want ${expected.sorted.toSeq}")
    }
  }

  test("compact rewrites live rows into one dataChange=false commit: " +
    "read unchanged, one file, DVs materialized, CDF sees nothing; " +
    "partitioned tables pack within each partition with re-stamped " +
    "partitionValues and real sizes") {
    import spark.implicits._
    val root = "/tmp/graft_deltaspec/compact"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val lake = LakeFiles.Local(root)
    val df = spark.range(0, 10).select(col("id"), (col("id") * 2).as("v"))
    lake.parquet(df.filter(col("id") < 5), "f0.parquet")
    lake.parquet(df.filter(col("id") >= 5), "f1.parquet")
    val schema = df.schema.json
    // DV on f0 kills ordinals 1, 3 (ids 1, 3)
    val size = writeDvFile(s"$root/dv.bin", Seq((0, Seq(1, 3))))
    val dv =
      s"""{"storageType":"p","pathOrInlineDv":${jstr(s"$root/dv.bin")},"offset":1,"sizeInBytes":$size,"cardinality":2}"""
    commit(root, 0, protocol(3, "deletionVectors"),
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":$dv}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val before = DeltaLogLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    val v = DeltaLogLite.compact(spark, root)
    assert(v == 1L)
    val after = DeltaLogLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(after == before &&
      after == Seq(0L, 2L, 4L, 5L, 6L, 7L, 8L, 9L).map(i => (i, i * 2)))
    // one live file, vector materialized away
    val snap = DeltaLogLite.snapshot(spark, root)
    assert(snap.files.size == 1 &&
      snap.files.forall(_.deletionVector.isEmpty))
    // the compaction version contributes ZERO change rows
    assert(DeltaLogLite.readChanges(spark, root, v, v).count() == 0L)
    // compacting twice is idempotent on content
    assert(DeltaLogLite.compact(spark, root) == 2L)
    assert(DeltaLogLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq == after)
    // VACUUM reclaims the superseded files (f0, f1, dv.bin, the first
    // compaction's file) and never the live one; travel to vacuumed
    // versions then fails at scan, current reads stay green
    val deleted = DeltaLogLite.vacuum(spark, root)
    assert(deleted.size == 4, s"deleted: $deleted")
    assert(deleted.exists(_.endsWith("f0.parquet")) &&
      deleted.exists(_.endsWith("dv.bin")) &&
      deleted.exists(_.endsWith("compact-1_0.parquet")))
    assert(DeltaLogLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq == after)
    intercept[Exception] {
      DeltaLogLite.read(spark, root, versionAsOf = Some(0L)).collect()
    }
    // vacuum twice: nothing left to reclaim
    assert(DeltaLogLite.vacuum(spark, root) == Nil)
    // checkpointed tables refuse
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":1,"size":1}""")
    val ev = intercept[IllegalStateException] {
      DeltaLogLite.vacuum(spark, root)
    }
    assert(ev.getMessage.contains("checkpoint"))
    Files.delete(Paths.get(root, "_delta_log", "_last_checkpoint"))
    // partitioned tables bin-pack WITHIN each partition: 2 partitions
    // × 2 files each compact to 1 file per partition, read unchanged,
    // partitionValues re-stamped, actual byte sizes in the adds
    val root2 = "/tmp/graft_deltaspec/compactpart"
    rm(new java.io.File(root2))
    Files.createDirectories(Paths.get(root2, "_delta_log"))
    val lake2 = LakeFiles.Local(root2)
    val dfP = spark.range(0, 20).select(col("id"))
    lake2.parquet(dfP.filter(col("id") < 5), "p=x/f0.parquet")
    lake2.parquet(dfP.filter(col("id") >= 5 && col("id") < 10),
      "p=x/f1.parquet")
    lake2.parquet(dfP.filter(col("id") >= 10 && col("id") < 15),
      "p=y/f2.parquet")
    lake2.parquet(dfP.filter(col("id") >= 15), "p=y/f3.parquet")
    val schemaP = spark.range(0, 1)
      .select(col("id"), lit("x").as("p")).schema.json
    // a deletion vector on p=x/f0 (ordinals 1, 3 = ids 1, 3): the
    // per-partition rewrite must materialize it away
    val sizeP = writeDvFile(s"$root2/dvp.bin", Seq((0, Seq(1, 3))))
    val dvP =
      s"""{"storageType":"p","pathOrInlineDv":${jstr(s"$root2/dvp.bin")},"offset":1,"sizeInBytes":$sizeP,"cardinality":2}"""
    commit(root2, 0, protocol(3, "deletionVectors"),
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schemaP)},"partitionColumns":["p"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}""",
      s"""{"add":{"path":"p=x/f0.parquet","partitionValues":{"p":"x"},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":$dvP}}""",
      """{"add":{"path":"p=x/f1.parquet","partitionValues":{"p":"x"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"p=y/f2.parquet","partitionValues":{"p":"y"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"p=y/f3.parquet","partitionValues":{"p":"y"},"size":1,"modificationTime":0,"dataChange":true}}""")
    val beforeP = DeltaLogLite.read(spark, root2)
      .as[(Long, String)].collect().sorted.toSeq
    assert(beforeP.size == 18 && !beforeP.exists(r =>
      r._1 == 1L || r._1 == 3L))
    val vP = DeltaLogLite.compact(spark, root2)
    assert(vP == 1L)
    assert(DeltaLogLite.read(spark, root2)
      .as[(Long, String)].collect().sorted.toSeq == beforeP)
    val snapP = DeltaLogLite.snapshot(spark, root2)
    // one file per partition, values re-stamped, real sizes, the
    // vector materialized away
    assert(snapP.files.size == 2)
    assert(snapP.files.forall(_.deletionVector.isEmpty))
    assert(snapP.files.map(_.partitionValues).toSet ==
      Set(Map("p" -> "x"), Map("p" -> "y")))
    snapP.files.foreach { f =>
      val len = new java.io.File(
        DeltaLogLite.resolveAddPath(root2, f.path)).length()
      assert(len > 100, s"${f.path}: stamped file missing or tiny")
    }
    // sizes stamped in the commit JSON match the real files
    val addSizes = Files.readString(
      Paths.get(root2, "_delta_log", f"${1L}%020d.json"))
      .linesIterator.filter(_.contains("\"add\"")).toSeq
    assert(addSizes.forall(!_.contains("\"size\":1,")),
      "compaction adds must stamp actual byte sizes, not a placeholder")
    // the compaction version contributes ZERO change rows
    assert(DeltaLogLite.readChanges(spark, root2, vP, vP).count() == 0L)
  }

  test("vacuum under a classic checkpoint: the checkpoint's remove " +
    "tombstones and the surviving JSON both feed the reclaim set; " +
    "missing classic names refuse") {
    import spark.implicits._
    val root = "/tmp/graft_deltaspec/vacuumckpt"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val df = spark.range(0, 15).select(col("id"), (col("id") * 2).as("v"))
    def one(filter: org.apache.spark.sql.Column, out: String): Unit =
      LakeFiles.Local(root).parquet(df.filter(filter), out)
    one(col("id") < 5, "f0.parquet")
    one(col("id") >= 5 && col("id") < 10, "f1.parquet")
    one(col("id") >= 10, "f2.parquet")
    val schema = df.schema.json
    // checkpoint at v1: live add f1 + EXPIRED remove tombstone f0
    // (commits 0-1's JSON is gone — the checkpoint is the only
    // record that f0 was ever referenced)
    val addT = "struct<path:string,partitionValues:map<string,string>>"
    val removeT = "struct<path:string>"
    val metaT = "struct<schemaString:string," +
      "partitionColumns:array<string>>"
    val frame = spark.range(1).select(
        lit(null).cast(addT).as("add"), lit(null).cast(removeT)
          .as("remove"),
        struct(lit(schema).as("schemaString"),
          array().cast("array<string>").as("partitionColumns"))
          .as("metaData"))
      .unionByName(spark.range(1).select(
        struct(lit("f1.parquet").as("path"),
          map().cast("map<string,string>").as("partitionValues"))
          .as("add"),
        lit(null).cast(removeT).as("remove"),
        lit(null).cast(metaT).as("metaData")))
      .unionByName(spark.range(1).select(
        lit(null).cast(addT).as("add"),
        struct(lit("f0.parquet").as("path")).as("remove"),
        lit(null).cast(metaT).as("metaData")))
    LakeFiles.Local(root).parquet(
      frame,
      s"_delta_log/${f"${1L}%020d"}.checkpoint.parquet")
    Files.writeString(Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":1}""")
    // commit 2: f1 superseded by f2
    commit(root, 2,
      """{"remove":{"path":"f1.parquet","deletionTimestamp":0,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val deleted = DeltaLogLite.vacuum(spark, root)
    assert(deleted.map(p => p.split('/').last).sorted ==
      Seq("f0.parquet", "f1.parquet"), s"deleted: $deleted")
    assert(DeltaLogLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq ==
      (10L to 14L).map(i => (i, i * 2)))
    // travel to the pre-vacuum version now fails at scan
    intercept[Exception] {
      DeltaLogLite.read(spark, root, versionAsOf = Some(1L)).collect()
    }
    // compaction composes with the checkpoint: the rewrite reads the
    // checkpoint-resolved snapshot and commits the next version
    assert(DeltaLogLite.compact(spark, root) == 3L)
    assert(DeltaLogLite.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq ==
      (10L to 14L).map(i => (i, i * 2)))
    assert(DeltaLogLite.snapshot(spark, root).files.size == 1)
    // a V2 UUID-manifest checkpoint vacuums too: the sidecar carries
    // the add + remove tombstone, and a named-but-missing sidecar
    // refuses
    val root2 = "/tmp/graft_deltaspec/vacuumckptv2"
    rm(new java.io.File(root2))
    Files.createDirectories(Paths.get(root2, "_delta_log", "_sidecars"))
    def one2(filter: org.apache.spark.sql.Column, out: String): Unit =
      LakeFiles.Local(root2).parquet(df.filter(filter), out)
    one2(col("id") < 5, "f0.parquet")
    one2(col("id") >= 5 && col("id") < 10, "f1.parquet")
    one2(col("id") >= 10, "f2.parquet")
    val sideFrame = spark.range(1).select(
        struct(lit("f1.parquet").as("path"),
          map().cast("map<string,string>").as("partitionValues"))
          .as("add"),
        lit(null).cast(removeT).as("remove"))
      .unionByName(spark.range(1).select(
        lit(null).cast(addT).as("add"),
        struct(lit("f0.parquet").as("path")).as("remove")))
    LakeFiles.Local(root2).parquet(
      sideFrame,
      "_delta_log/_sidecars/s1.parquet")
    Files.writeString(Paths.get(root2, "_delta_log",
      f"${1L}%020d.checkpoint.aa11bb.json"),
      Seq(
        """{"checkpointMetadata":{"version":1}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":[],"configuration":{},"createdTime":0}}""",
        """{"sidecar":{"path":"s1.parquet"}}""")
        .mkString("", "\n", "\n"))
    Files.writeString(Paths.get(root2, "_delta_log", "_last_checkpoint"),
      """{"version":1}""")
    commit(root2, 2,
      """{"remove":{"path":"f1.parquet","deletionTimestamp":0,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val deleted2 = DeltaLogLite.vacuum(spark, root2)
    assert(deleted2.map(_.split('/').last).sorted ==
      Seq("f0.parquet", "f1.parquet"), s"deleted: $deleted2")
    assert(DeltaLogLite.read(spark, root2)
      .as[(Long, Long)].collect().sorted.toSeq ==
      (10L to 14L).map(i => (i, i * 2)))
    // a named-but-missing sidecar refuses
    Files.delete(Paths.get(root2, "_delta_log", "_sidecars",
      "s1.parquet"))
    val e = intercept[IllegalStateException] {
      DeltaLogLite.vacuum(spark, root2)
    }
    assert(e.getMessage.contains("sidecar"))
  }

  test("randomized PARTITIONED maintenance model check: per-partition " +
    "packing preserves the read with one file and re-stamped values " +
    "per partition, the CDF stays silent, vacuum reclaims exactly the " +
    "superseded files, across seeds") {
    import spark.implicits._
    for (seed <- Seq(11, 402, 737)) {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_deltaspec/partmaint$seed"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "_delta_log"))
      val partitions = (0 until (2 + rnd.nextInt(2))).map(i => s"p$i")
      val schemaP = spark.range(0, 1)
        .select(col("id"), lit("x").as("part")).schema.json
      var model = Map.empty[String, Set[Long]].withDefaultValue(Set.empty)
      var nextKey = 0L
      var nFiles = 0
      var v = -1L
      def writeFile(rows: Seq[Long], rel: String): Unit =
        LakeFiles.Local(root).parquet(rows.toDF("id"), rel)
      // commits: each adds 1-2 files to random partitions
      val nCommits = 2 + rnd.nextInt(3)
      for (_ <- 0 until nCommits) {
        v += 1
        val adds = (0 until (1 + rnd.nextInt(2))).map { _ =>
          val part = partitions(rnd.nextInt(partitions.size))
          val n = 2 + rnd.nextInt(3)
          val rows = (nextKey until nextKey + n).toSeq
          nextKey += 100
          val rel = s"$part/f$nFiles.parquet"
          nFiles += 1
          writeFile(rows, rel)
          model += part -> (model(part) ++ rows)
          s"""{"add":{"path":${jstr(rel)},"partitionValues":{"part":${
            jstr(part)}},"size":1,"modificationTime":0,"dataChange":true}}"""
        }
        val lines =
          if (v == 0L)
            s"""{"metaData":{"id":"pm$seed","format":{"provider":"parquet","options":{}},"schemaString":${
              jstr(schemaP)},"partitionColumns":["part"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}""" +: adds
          else adds
        commit(root, v, lines: _*)
      }
      def read(): Map[String, Set[Long]] =
        DeltaLogLite.read(spark, root).as[(Long, String)].collect()
          .groupBy(_._2).map { case (p, rs) => p -> rs.map(_._1).toSet }
      assert(read() == model.filter(_._2.nonEmpty), s"seed $seed pre")
      val cv = DeltaLogLite.compact(spark, root)
      assert(read() == model.filter(_._2.nonEmpty),
        s"seed $seed post-compact")
      val snap = DeltaLogLite.snapshot(spark, root)
      val byPart = snap.files.groupBy(
        _.partitionValues.getOrElse("part", ""))
      assert(byPart.keySet == model.filter(_._2.nonEmpty).keySet &&
        byPart.forall(_._2.size == 1), s"seed $seed: $byPart")
      assert(DeltaLogLite.readChanges(spark, root, cv, cv).count() == 0L)
      val deleted = DeltaLogLite.vacuum(spark, root)
      assert(deleted.size == nFiles, s"seed $seed: $deleted")
      assert(read() == model.filter(_._2.nonEmpty),
        s"seed $seed post-vacuum")
      intercept[Exception] {
        DeltaLogLite.read(spark, root, versionAsOf = Some(0L)).collect()
      }
    }
  }

  test("randomized maintenance model check: reads stay model-equal " +
    "through add/remove/DV-grow commits AND the real row-level DELETE " +
    "writer, a compaction leaves the CDF silent, a vacuum keeps the " +
    "live read and kills old travel") {
    import spark.implicits._
    final case class F(name: String, rows: Seq[Long], dead: Set[Int],
                       dvJson: Option[String])
    for (seed <- Seq(5, 311, 926)) {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_deltaspec/maint$seed"
      rm(new java.io.File(root))
      Files.createDirectories(Paths.get(root, "_delta_log"))
      val schema = spark.range(0, 1)
        .select(col("id"), (col("id") * 2).as("v")).schema.json
      val metaLine =
        s"""{"metaData":{"id":"mm$seed","format":{"provider":"parquet",
           |"options":{}},"schemaString":${jstr(schema)},
           |"partitionColumns":[],"configuration":
           |{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
          .stripMargin.replace("\n", "")
      var nextBase = 0L
      def newDataFile(): F = {
        val n = 3 + rnd.nextInt(5)
        val rows = (nextBase until nextBase + n).toSeq
        nextBase += 100
        val name = s"f${rows.head}.parquet"
        LakeFiles.Local(root).parquet(
          spark.range(rows.head, rows.head + n)
            .select(col("id"), (col("id") * 2).as("v")),
          name)
        F(name, rows, Set.empty, None)
      }
      def withDv(f: F, v: Long): F =
        if (f.dead.isEmpty) f
        else {
          val p = s"$root/dv-$v-${f.rows.head}.bin"
          val size = writeDvFile(p, Seq(0 -> f.dead.toSeq.sorted))
          f.copy(dvJson = Some(
            s"""{"storageType":"p","pathOrInlineDv":${jstr(p)},
               |"offset":1,"sizeInBytes":$size,
               |"cardinality":${f.dead.size}}"""
              .stripMargin.replace("\n", "")))
        }
      def addLine(f: F): String =
        s"""{"add":{"path":"${f.name}","partitionValues":{},"size":1,
           |"modificationTime":0,"dataChange":true""".stripMargin
          .replace("\n", "") +
          f.dvJson.map(j => s""","deletionVector":$j""").getOrElse("") +
          "}}"
      def removeLine(f: F): String =
        s"""{"remove":{"path":"${f.name}","dataChange":true""" +
          f.dvJson.map(j => s""","deletionVector":$j""").getOrElse("") +
          "}}"
      var live = Vector.empty[F]
      def modelRows: Seq[(Long, Long)] =
        live.flatMap(f => f.rows.zipWithIndex.collect {
          case (id, ord) if !f.dead.contains(ord) => (id, id * 2)
        }).sorted
      def readRows: Seq[(Long, Long)] =
        DeltaLogLite.read(spark, root)
          .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
      val expected =
        scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      val nVersions = 4 + rnd.nextInt(3)
      for (v <- 0L until nVersions.toLong) {
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        if (v == 0L) {
          lines += protocol(3, "deletionVectors")
          lines += metaLine
        }
        val op = if (live.isEmpty) "add"
          else Seq("add", "remove", "dv")(rnd.nextInt(3))
        op match {
          case "add" =>
            val f = newDataFile()
            live :+= f
            lines += addLine(f)
            expected ++= f.rows.map(id => (id, "insert", v))
          case "remove" =>
            val i = rnd.nextInt(live.size)
            val f = live(i)
            lines += removeLine(f)
            live = live.patch(i, Nil, 1)
            expected ++= f.rows.zipWithIndex.collect {
              case (id, ord) if !f.dead.contains(ord) => (id, "delete", v)
            }
          case "dv" =>
            val i = rnd.nextInt(live.size)
            val old = live(i)
            val grown = withDv(old.copy(dead = old.dead ++
              (0 until (1 + rnd.nextInt(3))).map(_ =>
                rnd.nextInt(old.rows.size))), v)
            live = live.updated(i, grown)
            lines += removeLine(old)
            lines += addLine(grown)
            expected ++= (grown.dead -- old.dead).toSeq.sorted.map(ord =>
              (old.rows(ord), "delete", v))
        }
        commit(root, v, lines.toSeq: _*)
        // INVARIANT 1: the live read matches the model at EVERY step
        assert(readRows == modelRows, s"seed $seed after commit $v")
      }
      // an emptied table cannot compact — top it up through the log
      if (live.isEmpty) {
        val f = newDataFile()
        live :+= f
        commit(root, nVersions.toLong, addLine(f))
        expected ++= f.rows.map(id => (id, "insert", nVersions.toLong))
      }
      // INVARIANT 1b: the REAL row-level DELETE writer composes with
      // the hand-authored history — two predicate deletes, each
      // model-tracked (a file whose rows all die is dropped; others
      // grow their DV), the read model-equal after each, the CDF
      // rows exact (checked with the full feed below)
      for (_ <- 1 to 2) {
        val r = rnd.nextInt(10)
        val matchByFile: Vector[Set[Int]] = live.map(f =>
          f.rows.zipWithIndex.collect {
            case (id, ord) if id % 10 == r && !f.dead.contains(ord) =>
              ord
          }.toSet)
        val curV = DeltaLogLite.latestVersion(spark, root)
        val dv2 = DeltaLogLite.delete(spark, root, col("id") % 10 === r)
        if (matchByFile.forall(_.isEmpty))
          // no matching rows → NO commit (a no-op delete is not a
          // table change)
          assert(dv2 == curV, s"seed $seed no-op delete committed")
        else {
          assert(dv2 == curV + 1, s"seed $seed delete version")
          expected ++= live.zip(matchByFile).flatMap {
            case (f, newly) =>
              newly.toSeq.sorted.map(ord =>
                (f.rows(ord), "delete", dv2))
          }
          live = live.zip(matchByFile).flatMap { case (f, newly) =>
            val dead2 = f.dead ++ newly
            if (dead2.size == f.rows.size) None
            else Some(f.copy(dead = dead2))
          }
        }
        assert(readRows == modelRows, s"seed $seed post-delete")
        // a delete can empty the table (deletes on an empty table —
        // and the compaction below — refuse); top it back up
        if (live.isEmpty) {
          val f = newDataFile()
          live :+= f
          val tv = DeltaLogLite.latestVersion(spark, root) + 1
          commit(root, tv, addLine(f))
          expected ++= f.rows.map(id => (id, "insert", tv))
        }
      }
      // INVARIANT 2: compaction preserves the read and the FULL-range
      // change feed (its commit contributes zero rows)
      val cv = DeltaLogLite.compact(spark, root)
      assert(readRows == modelRows, s"seed $seed post-compaction")
      val feed = DeltaLogLite.readChanges(spark, root, 0L, cv)
        .select(col("id"), col("_change_type"), col("_commit_version"))
        .as[(Long, String, Long)].collect().sorted.toSeq
      assert(feed == expected.sorted.toSeq, s"seed $seed CDF drifted")
      // INVARIANT 3: vacuum keeps the live read; travel to version 0
      // dies exactly when v0's own file was reclaimed (it survives
      // when that file is still live, possibly under a newer DV)
      val deleted = DeltaLogLite.vacuum(spark, root)
      assert(readRows == modelRows, s"seed $seed post-vacuum")
      if (deleted.exists(_.endsWith("/f0.parquet"))) {
        intercept[Exception] {
          DeltaLogLite.read(spark, root, versionAsOf = Some(0L))
            .collect()
        }
      }
    }
  }

  test("absolute file: add.path reads (shallow-clone shape); foreign " +
    "schemes refuse; missing log refuses") {
    import spark.implicits._
    val (root, schema) = fixture("abs")
    // a SECOND table dir plays the clone source: its file is named by
    // an absolute file:-scheme URI from the reading table's log
    val (srcRoot, _) = fixture("abssrc")
    commit(root, 0, meta(schema), add("f0.parquet", "a"),
      add(s"file://$srcRoot/f%20one.parquet", "b"))
    val got = DeltaLogLite.read(spark, root)
    assert(got.count() == 10)
    assert(got.filter(col("part") === "b").select(col("id")).as[Long]
      .collect().sorted.toSeq == (5L to 9L))
    // bare absolute path spelling (no scheme) reads too
    commit(root, 1, add(s"$srcRoot/f0.parquet", "c"))
    assert(DeltaLogLite.read(spark, root).count() == 15)
    // foreign schemes refuse loudly
    commit(root, 2, add("s3://bucket/f.parquet", "d"))
    val e = intercept[IllegalStateException] {
      DeltaLogLite.read(spark, root)
    }
    assert(e.getMessage.contains("unsupported scheme"))
    assert(DeltaLogLite.resolveAddPath("/t", "a%2Fb%20c.parquet") ==
      "/t/a/b c.parquet")
    intercept[IllegalStateException] {
      DeltaLogLite.resolveAddPath("/t", "s3://bucket/f.parquet")
    }
    intercept[IllegalStateException] {
      DeltaLogLite.snapshot(spark, "/tmp/graft_deltaspec/nope")
    }
  }

  test("row-level DELETE: grown deletion vectors exclude matched rows, " +
    "CDF reports exactly the newly-dead rows, a fully-dead file is " +
    "removed outright, and compact+vacuum complete the lifecycle") {
    import spark.implicits._
    val (root, schema) = fixture("rowdelete")
    // CDF on so readChanges serves the range
    val metaCdf =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    // explicit LEGACY protocol (1, 4) — the CDF-enabled shape a real
    // pre-table-features writer leaves behind
    commit(root, 0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      metaCdf, add("f0.parquet", "a"),
      add("f%20one.parquet", "b"))
    def ids(): Seq[Long] = DeltaLogLite.read(spark, root)
      .select("id").as[Long].collect().sorted.toSeq
    // delete odd ids: both files grow a DV; no rewrite of data bytes
    assert(DeltaLogLite.delete(spark, root, col("id") % 2 === 1) == 1L)
    assert(ids() == Seq(0L, 2L, 4L, 6L, 8L))
    val snap1 = DeltaLogLite.snapshot(spark, root)
    assert(snap1.files.size == 2 &&
      snap1.files.forall(_.deletionVector.nonEmpty))
    // the commit upgraded the protocol to declare deletionVectors
    assert(snap1.minReaderVersion == 3 &&
      snap1.readerFeatures.contains("deletionVectors"))
    // ... and the upgrade carried every LEGACY writer feature the old
    // minWriterVersion=4 implied — notably changeDataFeed (the table's
    // config still demands CDC; an external writer honoring
    // writerFeatures would otherwise silently stop writing it)
    assert(snap1.minWriterVersion == 7 &&
      Set("appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns", "deletionVectors")
        .subsetOf(snap1.writerFeatures),
      snap1.writerFeatures.toSeq.sorted.toString)
    val cdf1 = DeltaLogLite.readChanges(spark, root, 1, 1)
      .select(col("id"), col("_change_type"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(cdf1 == Seq(1L, 3L, 5L, 7L, 9L).map(i => (i, "delete")))
    // second delete kills the REST of 'f one' (5..9 now all dead):
    // full-file → removed outright, no re-add
    assert(DeltaLogLite.delete(spark, root, col("id") >= 6) == 2L)
    assert(ids() == Seq(0L, 2L, 4L))
    val snap2 = DeltaLogLite.snapshot(spark, root)
    assert(snap2.files.map(_.path) == Seq("f0.parquet"))
    val cdf2 = DeltaLogLite.readChanges(spark, root, 2, 2)
      .select(col("id"), col("_change_type"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(cdf2 == Seq(6L, 8L).map(i => (i, "delete")))
    // a no-match delete commits NOTHING
    assert(DeltaLogLite.delete(spark, root, col("id") > 100) == 2L)
    assert(DeltaLogLite.latestVersion(spark, root) == 2L)
    // compact purges the vector; vacuum reclaims the originals + bins
    assert(DeltaLogLite.compact(spark, root) == 3L)
    assert(DeltaLogLite.snapshot(spark, root).files
      .forall(_.deletionVector.isEmpty))
    assert(ids() == Seq(0L, 2L, 4L))
    val deleted = DeltaLogLite.vacuum(spark, root)
    // two .bin files were ever written (v1's per-file vectors); the
    // full-file v2 delete wrote none
    assert(deleted.exists(_.endsWith("f0.parquet")) &&
      deleted.exists(_.endsWith("f one.parquet")) &&
      deleted.count(_.endsWith(".bin")) == 2, s"deleted: $deleted")
    assert(ids() == Seq(0L, 2L, 4L))
  }

  test("row-level UPDATE: matched rows rewrite under grown DVs plus " +
    "fresh per-partition files, the commit's WRITTEN cdc serves exact " +
    "update images, partition-moving/unknown SETs refuse") {
    import spark.implicits._
    val (root, schema) = fixture("rowupdate")
    val metaCdf =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    commit(root, 0, metaCdf, add("f0.parquet", "a"),
      add("f%20one.parquet", "b"))
    val v = DeltaLogLite.update(spark, root, col("id") % 2 === 1,
      Map("v" -> (col("v") + 1000)))
    assert(v == 1L)
    val got = DeltaLogLite.read(spark, root)
      .select("id", "v", "part").as[(Long, Long, String)]
      .collect().sorted.toSeq
    assert(got == (0L to 9L).map(i =>
      (i, i * 2 + (if (i % 2 == 1) 1000L else 0L),
        if (i < 5) "a" else "b")), got.toString)
    // old files live under grown DVs; one NEW file per partition
    val snap = DeltaLogLite.snapshot(spark, root)
    assert(snap.files.size == 4, snap.files.map(_.path).toString)
    assert(snap.files.count(_.deletionVector.nonEmpty) == 2)
    // the WRITTEN cdc serves exact update images (the synthesized
    // fallback would call these delete+insert)
    val cdf = DeltaLogLite.readChanges(spark, root, v, v)
      .select(col("id"), col("v"), col("_change_type"))
      .as[(Long, Long, String)].collect().sorted.toSeq
    val odd = Seq(1L, 3L, 5L, 7L, 9L)
    assert(cdf == (odd.map(i => (i, i * 2, "update_preimage")) ++
      odd.map(i => (i, i * 2 + 1000, "update_postimage"))).sorted,
      cdf.toString)
    // CDF files live under _change_data with partition values
    assert(new java.io.File(s"$root/_change_data").exists())
    // a second update composes (hits BOTH original and new files)
    val v2 = DeltaLogLite.update(spark, root, col("id") === 2,
      Map("v" -> lit(777L)))
    assert(v2 == 2L)
    assert(DeltaLogLite.read(spark, root)
      .filter(col("id") === 2).select("v").as[Long].head() == 777L)
    // a no-match update commits NOTHING
    assert(DeltaLogLite.update(spark, root, col("id") > 100,
      Map("v" -> lit(0L))) == 2L)
    assert(DeltaLogLite.latestVersion(spark, root) == 2L)
    // a PARTITION-MOVING SET serves: the rewrite lands under the new
    // partition dir, the old position dies where it was, and the cdc
    // images carry the move
    val v3 = DeltaLogLite.update(spark, root, col("id") === 0,
      Map("part" -> lit("c")))
    assert(v3 == 3L)
    assert(DeltaLogLite.read(spark, root)
      .filter(col("id") === 0).select("part").as[String]
      .head() == "c")
    assert(DeltaLogLite.read(spark, root).count() == 10)
    val cdfMove = DeltaLogLite.readChanges(spark, root, v3, v3)
      .select(col("id"), col("part"), col("_change_type"))
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(cdfMove == Seq((0L, "a", "update_preimage"),
      (0L, "c", "update_postimage")), cdfMove.toString)
    // an unknown SET column refuses
    val e2 = intercept[IllegalStateException] {
      DeltaLogLite.update(spark, root, col("id") === 0,
        Map("nope" -> lit(1L)))
    }
    assert(e2.getMessage.contains("nope"))
    // the lifecycle composes: compact + vacuum keep the read green
    DeltaLogLite.compact(spark, root): Unit
    DeltaLogLite.vacuum(spark, root): Unit
    assert(DeltaLogLite.read(spark, root)
      .filter(col("id") === 2).select("v").as[Long].head() == 777L)
  }

  test("DV growth reads row counts from add-action stats.numRecords " +
    "when present (no driver footer I/O) — full-file removal and " +
    "partial re-add both exact; malformed stats fall back to the " +
    "footer instead of refusing") {
    import spark.implicits._
    val (root, schema) = fixture("statscounts")
    def addS(path: String, part: String, stats: String): String =
      s"""{"add":{"path":${jstr(path)},"partitionValues":{"part":${
        jstr(part)}},"size":1,"modificationTime":0,"dataChange":true,"stats":${
        jstr(stats)}}}"""
    // f0 (ids 0-4) carries CORRECT stats; 'f one' (ids 5-9) carries
    // MALFORMED stats (the footer fallback must serve it)
    commit(root, 0, meta(schema),
      addS("f0.parquet", "a", """{"numRecords":5,"minValues":{}}"""),
      addS("f%20one.parquet", "b", "not json"))
    // kill ALL of f0 (stats say 5 = matched count → removed outright)
    // and PART of 'f one' (footer fallback → DV re-add)
    assert(DeltaLogLite.delete(spark, root,
      col("id") < 5 || col("id") === 7) == 1L)
    assert(DeltaLogLite.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq == Seq(5L, 6L, 8L, 9L))
    val snap = DeltaLogLite.snapshot(spark, root)
    assert(snap.files.map(_.path) == Seq("f%20one.parquet"),
      snap.files.map(_.path).toString)
    assert(snap.files.head.deletionVector.exists(_.cardinality == 1))
    // stats RIDE the re-add: a partial kill of a stats-carrying file
    // keeps numRecords on the grown-DV add, so the SECOND delete's
    // full-file detection is still driver-I/O-free — and the union
    // with the existing DV reaches full-dead removal exactly
    val root2 = fixture("statscarry")._1
    commit(root2, 0, meta(schema),
      addS("f0.parquet", "a", """{"numRecords":5,"minValues":{}}"""),
      addS("f%20one.parquet", "b", """{"numRecords":5}"""))
    assert(DeltaLogLite.delete(spark, root2, col("id") === 1) == 1L)
    val s2 = DeltaLogLite.snapshot(spark, root2)
    val f0 = s2.files.find(_.path == "f0.parquet").get
    assert(f0.deletionVector.exists(_.cardinality == 1))
    assert(f0.stats.contains("""{"numRecords":5,"minValues":{}}"""),
      f0.stats.toString)
    // ids 0,2,3,4 die → 1 (old DV) + 4 = 5 = numRecords → removal
    assert(DeltaLogLite.delete(spark, root2, col("id") < 5) == 2L)
    assert(DeltaLogLite.snapshot(spark, root2).files.map(_.path) ==
      Seq("f%20one.parquet"))
    assert(DeltaLogLite.read(spark, root2).select("id").as[Long]
      .collect().sorted.toSeq == (5L to 9L))
  }

  test("keyed UPSERT: ONE commit kills the old key versions under " +
    "grown DVs and appends the new rows (partition moves included), " +
    "the cdc images a MERGE, and a pure-insert upsert neither grows " +
    "vectors nor upgrades the protocol") {
    import spark.implicits._
    val (root, schema) = fixture("upsertkeyed")
    val metaCdf =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema)},"partitionColumns":["part"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""
    commit(root, 0, metaCdf, add("f0.parquet", "a"),
      add("f%20one.parquet", "b"))
    def got(): Seq[(Long, Long, String)] = DeltaLogLite
      .read(spark, root).select("id", "v", "part")
      .as[(Long, Long, String)].collect().sorted.toSeq
    // pure insert first: no DV growth, no protocol upgrade
    val v1 = DeltaLogLite.upsertKeyed(spark, root,
      Seq((30L, 300L, "a")).toDF("id", "v", "part"), Seq("id"))
    assert(v1 == 1L)
    val snap1 = DeltaLogLite.snapshot(spark, root)
    assert(snap1.minReaderVersion == 1 &&
      snap1.files.forall(_.deletionVector.isEmpty),
      "a pure-insert upsert must not upgrade the protocol or grow DVs")
    assert(got().contains((30L, 300L, "a")))
    // MERGE: update key 1 (stays in a), MOVE key 7 from b to a,
    // insert key 40
    val v2 = DeltaLogLite.upsertKeyed(spark, root,
      Seq((1L, 111L, "a"), (7L, 777L, "a"), (40L, 400L, "b"))
        .toDF("id", "v", "part"), Seq("id"))
    assert(v2 == 2L)
    val after = got()
    assert(after.contains((1L, 111L, "a")) &&
      after.contains((7L, 777L, "a")) &&
      after.contains((40L, 400L, "b")) &&
      !after.exists(r => r._1 == 7L && r._3 == "b"), after.toString)
    assert(after.size == 12) // 10 original + 30 + 40
    // the cdc images a MERGE: pre/post for 1 and 7, insert for 40
    val cdf = DeltaLogLite.readChanges(spark, root, v2, v2)
      .select(col("id"), col("v"), col("_change_type"))
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(cdf == Seq((1L, 2L, "update_preimage"),
      (1L, 111L, "update_postimage"), (7L, 14L, "update_preimage"),
      (7L, 777L, "update_postimage"), (40L, 400L, "insert")).sorted,
      cdf.toString)
    // duplicate key tuples refuse; missing columns refuse
    assert(intercept[IllegalStateException] {
      DeltaLogLite.upsertKeyed(spark, root,
        Seq((1L, 1L, "a"), (1L, 2L, "a")).toDF("id", "v", "part"),
        Seq("id"))
    }.getMessage.contains("DUPLICATE"))
    // keys that COLLAPSE under the schema cast ("1" vs "01" into the
    // long key) are duplicates too — the check runs on the cast rows
    assert(intercept[IllegalStateException] {
      DeltaLogLite.upsertKeyed(spark, root,
        Seq(("1", 1L, "a"), ("01", 2L, "a")).toDF("id", "v", "part"),
        Seq("id"))
    }.getMessage.contains("DUPLICATE"))
    assert(intercept[IllegalStateException] {
      DeltaLogLite.upsertKeyed(spark, root,
        Seq(1L).toDF("id"), Seq("id"))
    }.getMessage.contains("v"))
    // the lifecycle composes
    DeltaLogLite.compact(spark, root): Unit
    DeltaLogLite.vacuum(spark, root): Unit
    assert(got() == after)
  }

  test("base85 encode/decode round-trips") {
    val bytes = Array.tabulate[Byte](16)(i => (i * 17 - 128).toByte)
    assert(DeltaLogLite.base85Decode(
      DeltaLogLite.base85Encode(bytes)).toSeq == bytes.toSeq)
  }

  test("file:-qualified URI roots: compact and vacuum run end-to-end " +
    "through Hadoop FS (java.io/NIO would silently reclaim nothing)") {
    import spark.implicits._
    val (bare, schema) = fixture("uriroot")
    commit(bare, 0, meta(schema), add("f0.parquet", "a"),
      add("f%20one.parquet", "b"))
    // every op takes the QUALIFIED root — nothing below may fall back
    // to java.io path handling
    val root = s"file:$bare"
    val before = DeltaLogLite.read(spark, root)
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(before.size == 10)
    assert(DeltaLogLite.compact(spark, root) == 1L)
    assert(DeltaLogLite.read(spark, root)
      .as[(Long, Long, String)].collect().sorted.toSeq == before)
    // vacuum reclaims the two superseded originals and nothing else;
    // the compacted read stays green
    val deleted = DeltaLogLite.vacuum(spark, root)
    assert(deleted.map(_.split('/').last).sorted ==
      Seq("f one.parquet", "f0.parquet"), s"deleted: $deleted")
    assert(DeltaLogLite.read(spark, root)
      .as[(Long, Long, String)].collect().sorted.toSeq == before)
    assert(DeltaLogLite.vacuum(spark, root) == Nil)
  }
}
