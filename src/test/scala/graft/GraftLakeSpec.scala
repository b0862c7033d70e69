package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLake
import graft.sources.LakeFiles
import graft.sources.LakeFiles.rm

/** GraftLake contract: layout detection per format marker, the
  * no-match and ambiguous refusals, and the time-travel argument
  * gates. The dispatch happy path against real data is q417's DuckDB
  * oracle (all four authored tables through one entry point). */
class GraftLakeSpec extends AnyFunSuite {
  import TestSession._

  private def fresh(name: String, dirs: String*): String = {
    val root = s"/tmp/graft_lakespec/$name"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root))
    dirs.foreach(d => Files.createDirectories(Paths.get(root, d)))
    root
  }

  test("each format's marker detects it") {
    assert(GraftLake.detect(spark,
      fresh("d", "_delta_log")) == GraftLake.Delta)
    val ice = fresh("i", "metadata")
    Files.writeString(
      Paths.get(ice, "metadata", "version-hint.text"), "1")
    assert(GraftLake.detect(spark, ice) == GraftLake.Iceberg)
    assert(GraftLake.detect(spark,
      fresh("h", ".hoodie")) == GraftLake.Hudi)
    assert(GraftLake.detect(spark,
      fresh("p", "snapshot", "schema")) == GraftLake.Paimon)
  }

  test("graft_lake SQL table function: reads a Delta table from plain " +
    "SQL with the native plan; version travel; literal gates refuse") {
    import org.apache.spark.sql.functions._
    // a minimal two-commit Delta table
    val root = fresh("sqltvf", "_delta_log", "data")
    val lake = LakeFiles.Local(root)
    val a = spark.range(0, 5).select(col("id"), (col("id") * 2).as("v"))
    lake.parquet(a, "data/a.parquet")
    lake.parquet(spark.range(5, 8).select(col("id"), (col("id") * 2).as("v")),
      "data/b.parquet")
    Files.writeString(Paths.get(root, "_delta_log",
      f"${0L}%020d.json"),
      s"""{"metaData":{"id":"tvf","format":{"provider":"parquet","options":{}},"schemaString":${
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.JsonDSL.string2jvalue(a.schema.json))},"partitionColumns":[],"configuration":{},"createdTime":0}}
         |{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
         |""".stripMargin)
    Files.writeString(Paths.get(root, "_delta_log",
      f"${1L}%020d.json"),
      """{"add":{"path":"data/b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n")
    GraftExtensions.register(spark)
    // latest = both commits; version 0 travels to the first
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_lake('$root')")
      .head().getLong(0) == 8L)
    assert(spark.sql(
      s"SELECT sum(v) AS s FROM graft_lake('$root', 0)")
      .head().getLong(0) == 20L)
    // the TVF plan is the NATIVE scan (FileScan parquet, no RDD shim)
    val plan = spark.sql(s"SELECT * FROM graft_lake('$root')")
      .queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"), s"not a native scan:\n$plan")
    // non-literal / wrong-typed arguments refuse
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_lake('$root', 1.5)").collect()
    }
    assert(chain(e).exists(_.contains("INT/LONG")))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_lake(42)").collect()
    }
    assert(chain(e2).exists(_.contains("STRING literal")))
  }

  private def chain(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ chain(x.getCause))

  test("SQL maintenance surface: graft_lake_compact / reclaim run the " +
    "dispatchers from plain SQL and return the op's rows; expire on " +
    "a file-grain format refuses naming reclaim") {
    import org.apache.spark.sql.functions._
    // the same minimal two-commit Delta table as the read TVF test
    val root = fresh("sqlmaint", "_delta_log", "data")
    val lake = LakeFiles.Local(root)
    val a = spark.range(0, 5).select(col("id"), (col("id") * 2).as("v"))
    lake.parquet(a, "data/a.parquet")
    lake.parquet(spark.range(5, 8).select(col("id"), (col("id") * 2).as("v")),
      "data/b.parquet")
    Files.writeString(Paths.get(root, "_delta_log",
      f"${0L}%020d.json"),
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":${
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.JsonDSL.string2jvalue(a.schema.json))},"partitionColumns":[],"configuration":{},"createdTime":0}}
         |{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
         |{"add":{"path":"data/b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
         |""".stripMargin)
    GraftExtensions.register(spark)
    // compact from SQL returns the new version on the format's axis
    assert(spark.sql(
      s"SELECT * FROM graft_lake_compact('$root')")
      .head().getString(0) == "1")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_lake('$root')")
      .head().getLong(0) == 8L)
    // reclaim (Delta → VACUUM) returns the two superseded originals
    val reclaimed = spark.sql(
      s"SELECT deleted_path FROM graft_lake_reclaim('$root') " +
        "ORDER BY deleted_path")
      .collect().map(_.getString(0)).toSeq
    assert(reclaimed.size == 2 &&
      reclaimed.exists(_.endsWith("a.parquet")), reclaimed.toString)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_lake('$root')")
      .head().getLong(0) == 8L)
    // expire on a file-grain format refuses naming the right axis
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_lake_expire('$root')").collect()
    }
    assert(chain(e).exists(_.contains("reclaim")))
    // literal gates refuse
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_lake_compact(42)").collect()
    }
    assert(chain(e2).exists(_.contains("STRING literal")))
    // the predicate DML dispatches: delete commits on Delta; update
    // runs the DV+cdc rewrite (CDF off here, so no cdc leg)
    assert(GraftLake.update(spark, root, col("id") === 0,
      Map("v" -> lit(99L))) == "2")
    assert(GraftLake.read(spark, root).filter(col("id") === 0)
      .select("v").collect().head.getLong(0) == 99L)
    assert(GraftLake.delete(spark, root, col("id") >= 6) == "3")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_lake('$root')")
      .head().getLong(0) == 6L)
  }

  test("SQL row-level DML: graft_lake_delete runs the predicate " +
    "delete from plain SQL; GraftLake.upsert merges by key on Delta " +
    "and refuses composite Hudi keys / foreign Paimon keys by name") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = fresh("sqldml", "_delta_log", "data")
    val lake = LakeFiles.Local(root)
    val a = spark.range(0, 8).select(col("id"), (col("id") * 2).as("v"))
    lake.parquet(a, "data/a.parquet")
    Files.writeString(Paths.get(root, "_delta_log",
      f"${0L}%020d.json"),
      s"""{"metaData":{"id":"dml","format":{"provider":"parquet","options":{}},"schemaString":${
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.JsonDSL.string2jvalue(a.schema.json))},"partitionColumns":[],"configuration":{},"createdTime":0}}
         |{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
         |""".stripMargin)
    GraftExtensions.register(spark)
    // DELETE from pure SQL: the predicate string parses through the
    // session's own expression parser and commits a DV delete
    assert(spark.sql(
      s"SELECT * FROM graft_lake_delete('$root', 'id % 2 = 1')")
      .head().getString(0) == "1")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_lake('$root')")
      .head().getLong(0) == 4L)
    // literal gates refuse
    val e0 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_lake_delete(42, 'x')").collect()
    }
    assert(chain(e0).exists(_.contains("STRING literal")))
    // the UPSERT facade: Delta merges by key (update 0, insert 100)
    assert(GraftLake.upsert(spark, root,
      Seq((0L, 999L), (100L, 1L)).toDF("id", "v"), Seq("id")) == "2")
    val got = GraftLake.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((0L, 999L), (2L, 4L), (4L, 8L), (6L, 12L),
      (100L, 1L)))
    // UPDATE from pure SQL: predicate + SET expression both parse
    // through the session parser
    assert(spark.sql(s"SELECT * FROM graft_lake_update('$root', " +
      "'id = 2', 'v', 'v + 70')").head().getString(0) == "3")
    assert(GraftLake.read(spark, root).filter(col("id") === 2)
      .select("v").as[Long].head() == 74L)
    // Hudi: composite facade keys refuse by name
    val h = fresh("upsh", ".hoodie")
    Files.writeString(Paths.get(h, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=COPY_ON_WRITE\n")
    val e1 = intercept[IllegalArgumentException] {
      GraftLake.upsert(spark, h,
        Seq((1L, 2L)).toDF("a", "b"), Seq("a", "b"))
    }
    assert(e1.getMessage.contains("ONE string column"))
    // Paimon: the table DEFINES its key — a foreign key refuses
    val p = fresh("upsp", "snapshot", "schema", "manifest")
    Files.writeString(Paths.get(p, "schema", "schema-0"),
      """{"id":0,"fields":[{"id":0,"name":"id","type":"BIGINT"},
        |{"id":1,"name":"v","type":"BIGINT"}],
        |"highestFieldId":1,"partitionKeys":[],"primaryKeys":["id"],
        |"options":{}}""".stripMargin)
    LakeFiles.Local(p).avro(
      Seq.empty[String].toDF("_FILE_NAME"),
      "manifest/ml-0.avro")
    Files.writeString(Paths.get(p, "snapshot", "snapshot-1"),
      """{"version":3,"id":1,"schemaId":0,
        |"baseManifestList":"ml-0.avro",
        |"deltaManifestList":"ml-0.avro",
        |"commitKind":"APPEND","commitUser":"t",
        |"commitIdentifier":1,"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(p, "snapshot", "LATEST"), "1")
    val e2 = intercept[IllegalArgumentException] {
      GraftLake.upsert(spark, p,
        Seq((1L, 2L)).toDF("id", "v"), Seq("v"))
    }
    assert(e2.getMessage.contains("primary key"), e2.getMessage)
  }

  test("Paimon PREDICATE delete composes through the dispatch: the " +
    "predicate selects keys on the merged view, -D rows append; " +
    "no-match commits nothing; append-only tables refuse") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = fresh("paimonpdel", "snapshot", "schema", "manifest",
      "bucket-0")
    val lake = LakeFiles.Local(root)
    val kv = spark.range(0, 6).select(col("id").as("_KEY_id"),
      lit(1L).as("_SEQUENCE_NUMBER"),
      lit(0).cast("tinyint").as("_VALUE_KIND"),
      col("id"), (col("id") * 2).as("v"))
    lake.parquet(kv, "bucket-0/kv0.parquet")
    lake.avro(Seq((0, "kv0.parquet")).toDF("_KIND", "_fn")
      .select(col("_KIND"), lit(0).as("_BUCKET"),
        struct(col("_fn").as("_FILE_NAME")).as("_FILE")),
      "manifest/m-0.avro")
    lake.avro(Seq.empty[String].toDF("_FILE_NAME"),
      "manifest/ml-empty.avro")
    lake.avro(Seq("m-0.avro").toDF("_FILE_NAME"), "manifest/ml-0.avro")
    Files.writeString(Paths.get(root, "schema", "schema-0"),
      """{"id":0,"fields":[{"id":0,"name":"id","type":"BIGINT"},
        |{"id":1,"name":"v","type":"BIGINT"}],
        |"highestFieldId":1,"partitionKeys":[],"primaryKeys":["id"],
        |"options":{}}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "snapshot-1"),
      """{"version":3,"id":1,"schemaId":0,
        |"baseManifestList":"ml-empty.avro",
        |"deltaManifestList":"ml-0.avro",
        |"commitKind":"APPEND","commitUser":"t",
        |"commitIdentifier":1,"timeMillis":0}""".stripMargin)
    Files.writeString(Paths.get(root, "snapshot", "LATEST"), "1")
    // the predicate runs on the MERGED view's value column
    assert(GraftLake.delete(spark, root, col("v") >= 8) == "2")
    assert(GraftLake.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    // no-match: the CURRENT snapshot id, no commit
    assert(GraftLake.delete(spark, root, col("v") > 100) == "2")
    // predicate UPDATE composes the same way (deduplicate engine:
    // the rewritten row REPLACES the stored one)
    assert(GraftLake.update(spark, root, col("id") === 1,
      Map("v" -> (col("v") + 50))) == "3")
    assert(GraftLake.read(spark, root).select("id", "v")
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((0L, 0L), (1L, 52L), (2L, 4L), (3L, 6L)))
    // key-moving SETs refuse
    assert(intercept[IllegalArgumentException] {
      GraftLake.update(spark, root, col("id") === 1,
        Map("id" -> lit(9L)))
    }.getMessage.contains("key"))
  }

  test("readIncremental dispatches to Hudi (COW/MOR); the other " +
    "formats refuse naming their own change surface") {
    // non-Hudi formats refuse with a pointer (detect-level fixtures
    // suffice — the refusal fires before any metadata read)
    val d = intercept[IllegalArgumentException] {
      GraftLake.readIncremental(spark,
        fresh("incd", "_delta_log"), "0")
    }
    assert(d.getMessage.contains("CHANGE DATA FEED"))
    val p = intercept[IllegalArgumentException] {
      GraftLake.readIncremental(spark,
        fresh("incp", "snapshot", "schema"), "0")
    }
    assert(p.getMessage.contains("CHANGELOG"))
    val ice = fresh("inci", "metadata")
    Files.writeString(
      Paths.get(ice, "metadata", "version-hint.text"), "1")
    val i = intercept[IllegalArgumentException] {
      GraftLake.readIncremental(spark, ice, "0")
    }
    assert(i.getMessage.contains("SNAPSHOT ID"))
    // the Hudi dispatch reaches the native reader (the COW reader's
    // own gates fire — proving the call routed)
    val h = fresh("inch", ".hoodie")
    Files.writeString(Paths.get(h, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=COPY_ON_WRITE\n")
    val e = intercept[IllegalStateException] {
      GraftLake.readIncremental(spark, h, "0")
    }
    assert(e.getMessage.contains("no completed commits"))
  }

  test("readChanges dispatches Delta CDF through the one vocabulary; " +
    "Hudi and an empty Paimon range refuse") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Delta passthrough: a blind append's synthesized inserts arrive
    // with _change_type/_commit_version
    val root = fresh("chgd", "_delta_log", "data")
    val lake = LakeFiles.Local(root)
    val a = spark.range(0, 5).select(col("id"), (col("id") * 2).as("v"))
    lake.parquet(a, "data/a.parquet")
    Files.writeString(Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      s"""{"metaData":{"id":"chg","format":{"provider":"parquet","options":{}},"schemaString":${
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.JsonDSL.string2jvalue(a.schema.json))},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}
         |{"add":{"path":"data/a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
         |""".stripMargin)
    val got = GraftLake.readChanges(spark, root, 0L, 0L)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got == (0L to 4L).map(i => (i, "insert", 0L)))
    // the SQL table function rides the same dispatch
    GraftExtensions.register(spark)
    assert(spark.sql(s"SELECT count(*) AS n FROM " +
      s"graft_lake_changes('$root', 0, 0)").head().getLong(0) == 5L)
    // non-literal version arguments refuse
    val e0 = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_lake_changes('$root', 0, 1.5)").collect()
    }
    assert(chain(e0).exists(_.contains("INT/LONG")))
    // Hudi: string-instant surface — refuses naming readIncremental
    val h = fresh("chgh", ".hoodie")
    val e1 = intercept[IllegalArgumentException] {
      GraftLake.readChanges(spark, h, 0L, 1L)
    }
    assert(e1.getMessage.contains("readIncremental"))
    // Paimon: an empty range refuses
    val p = fresh("chgp", "snapshot", "schema")
    val e2 = intercept[IllegalArgumentException] {
      GraftLake.readChanges(spark, p, 2L, 2L)
    }
    assert(e2.getMessage.contains("empty Paimon changelog range"))
  }

  test("a bare metadata/ directory is NOT Iceberg (needs the hint or " +
    "a vN.metadata.json)") {
    val root = fresh("baremeta", "metadata")
    val e = intercept[IllegalStateException] {
      GraftLake.detect(spark, root)
    }
    assert(e.getMessage.contains("matches no lakehouse layout"))
  }

  test("no marker and multiple markers refuse loudly") {
    val e1 = intercept[IllegalStateException] {
      GraftLake.detect(spark, fresh("none"))
    }
    assert(e1.getMessage.contains("matches no lakehouse layout"))
    val e2 = intercept[IllegalStateException] {
      GraftLake.detect(spark, fresh("multi", "_delta_log", ".hoodie"))
    }
    assert(e2.getMessage.contains("MULTIPLE"))
    assert(e2.getMessage.contains("delta") &&
      e2.getMessage.contains("hudi"))
    intercept[IllegalStateException] {
      GraftLake.detect(spark, "/tmp/graft_lakespec/nope")
    }
  }

  test("MOR tables dispatch to the SNAPSHOT view by default; " +
    "readOptimized keeps the base-only view") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = fresh("morsnap", ".hoodie")
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n")
    LakeFiles.Local(root).parquet(
      spark.range(0, 3).select(col("id").cast("string")
        .as("_hoodie_record_key"), col("id"), (col("id") * 3).as("v")),
      "g1_0-0_001.parquet")
    def commit(instant: String, path: String): Unit =
      Files.writeString(Paths.get(root, ".hoodie",
        s"$instant.deltacommit"),
        s"""{"partitionToWriteStats":{"":[{"fileId":"g1","path":"$path","numWrites":1}]}}""")
    commit("001", "g1_0-0_001.parquet")
    val schema =
      """{"type":"record","name":"r","fields":[
        | {"name":"_hoodie_record_key","type":"string"},
        | {"name":"id","type":"long"},{"name":"v","type":"long"},
        | {"name":"_hoodie_is_deleted","type":"boolean"}]}""".stripMargin
    graft.sources.HudiMorLite.writeLogFile(s"$root/.g1_001.log.1",
      Seq(schema -> Seq(Map[String, Any]("_hoodie_record_key" -> "1",
        "id" -> 1L, "v" -> 99L, "_hoodie_is_deleted" -> false))))
    commit("002", ".g1_001.log.1")
    // default = snapshot view: the log's upsert is visible
    assert(GraftLake.read(spark, root).filter(col("id") === 1)
      .select("v").as[Long].head() == 99L)
    // readOptimized = base only: the original value
    assert(GraftLake.read(spark, root, readOptimized = true)
      .filter(col("id") === 1).select("v").as[Long].head() == 3L)
  }

  test("time-travel arguments a format cannot express refuse loudly") {
    val hudi = fresh("hver", ".hoodie")
    val e = intercept[IllegalArgumentException] {
      GraftLake.read(spark, hudi, version = Some(1L))
    }
    assert(e.getMessage.contains("HudiCowLite"))
    // the NAMED axis exists on Iceberg (refs) and Paimon (tags) only
    val eRef = intercept[IllegalArgumentException] {
      GraftLake.read(spark, fresh("dref", "_delta_log"),
        ref = Some("tag1"))
    }
    assert(eRef.getMessage.contains("no named-ref surface"))
    intercept[IllegalArgumentException] {
      GraftLake.read(spark, hudi, ref = Some("tag1"))
    }
    // Paimon timestamp travel DISPATCHES (timeMillis-based) — the
    // empty fixture fails inside PaimonLite, proving the routing
    val paimon = fresh("pts", "snapshot", "schema")
    val e2 = intercept[IllegalStateException] {
      GraftLake.read(spark, paimon, timestampMs = Some(1L))
    }
    assert(e2.getMessage.contains("no snapshot"))
  }

  test("maintenance dispatch: expire is snapshot-grain (Iceberg/" +
    "Paimon), reclaim is file-grain (Delta/Hudi); the wrong axis " +
    "refuses naming the right one; MOR compact routes to the merged " +
    "clustering") {
    // wrong-axis refusals name the correct entry point
    val delta = fresh("mntd", "_delta_log")
    val eD = intercept[IllegalArgumentException] {
      GraftLake.expire(spark, delta)
    }
    assert(eD.getMessage.contains("GraftLake.reclaim"))
    val ice = fresh("mnti", "metadata")
    Files.writeString(
      Paths.get(ice, "metadata", "version-hint.text"), "1")
    val eI = intercept[IllegalArgumentException] {
      GraftLake.reclaim(spark, ice)
    }
    assert(eI.getMessage.contains("GraftLake.expire"))
    val hudi = fresh("mnth", ".hoodie")
    intercept[IllegalArgumentException] {
      GraftLake.expire(spark, hudi)
    }
    val paimon = fresh("mntp", "snapshot", "schema")
    intercept[IllegalArgumentException] {
      GraftLake.reclaim(spark, paimon)
    }
    // a MOR table's compact dispatches to HudiMorLite.cluster — the
    // empty MOR fixture fails inside the MOR snapshot resolver (no
    // completed commits), proving the routing (the COW path would
    // refuse the table TYPE instead)
    Files.writeString(
      Paths.get(hudi, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n")
    val eM = intercept[IllegalStateException] {
      GraftLake.compact(spark, hudi)
    }
    assert(!eM.getMessage.contains("COPY_ON_WRITE") &&
      !eM.getMessage.contains("MERGE_ON_READ"),
      s"MOR compact should route to HudiMorLite: ${eM.getMessage}")
  }
}
