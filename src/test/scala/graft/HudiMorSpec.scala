package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HudiCowLite, HudiMorLite}
import graft.sources.LakeFiles
import graft.sources.LakeFiles.rm

/** HudiMorLite contract: timeline → file slices (base + ordered
  * logs, compaction starts a new slice), HoodieLogFormat block
  * parsing, the upsert/soft-delete merge, and every LOUD-failure
  * path — foreign block types, corrupt magic, wrong format version,
  * logs without a base, COW tables. The happy path against real data
  * is q431's DuckDB oracle. */
class HudiMorSpec extends AnyFunSuite {
  import TestSession._

  private val avroSchema =
    """{"type":"record","name":"r","fields":[
      | {"name":"_hoodie_record_key","type":"string"},
      | {"name":"id","type":"long"},
      | {"name":"v","type":"long"},
      | {"name":"_hoodie_is_deleted","type":"boolean"}]}""".stripMargin

  private def rec(id: Long, v: Long,
                  deleted: Boolean = false): Map[String, Any] =
    Map("_hoodie_record_key" -> id.toString, "id" -> id, "v" -> v,
      "_hoodie_is_deleted" -> deleted)

  /** MOR table: deltacommit 001 base-inserts ids 0..4 (v = id*3) into
    * group g1; returns the root for log appends. */
  private def fixture(name: String): String = {
    val root = s"/tmp/graft_hudimorspec/$name"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n")
    LakeFiles.Local(root).parquet(
      spark.range(0, 5).select(col("id").cast("string")
        .as("_hoodie_record_key"), col("id"), (col("id") * 3).as("v")),
      "g1_0-0_001.parquet")
    commit(root, "001", "deltacommit", "g1_0-0_001.parquet")
    root
  }

  private def commit(root: String, instant: String, kind: String,
                     path: String, fileId: String = "g1"): Unit =
    Files.writeString(Paths.get(root, ".hoodie", s"$instant.$kind"),
      s"""{"partitionToWriteStats":{"":[{"fileId":"$fileId","path":"$path","numWrites":1}]}}""")

  test("log upserts replace, soft deletes drop, unchanged rows " +
    "survive") {
    import spark.implicits._
    val root = fixture("happy")
    HudiMorLite.writeLogFile(s"$root/.g1_001.log.1",
      Seq(avroSchema -> Seq(rec(1, 100), rec(0, 0, deleted = true))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val got = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 100L), (2L, 6L), (3L, 9L), (4L, 12L)))
    // asOfInstant 001 = the unpatched base
    assert(HudiMorLite.read(spark, root, Some("001")).count() == 5)
    // the merge is an AGGREGATE + anti-join — no window
    val plan = HudiMorLite.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(plan.contains("max_by"), s"merge does not ride max_by:\n$plan")
    assert(!plan.contains("Window"), s"merge rides a window:\n$plan")
  }

  test("cluster materializes the merged view into a fresh base group: " +
    "snapshot unchanged, READ-OPTIMIZED now serves the merge, no logs " +
    "left in the state") {
    import spark.implicits._
    val root = fixture("cluster")
    HudiMorLite.writeLogFile(s"$root/.g1_001.log.1",
      Seq(avroSchema -> Seq(rec(1, 100), rec(0, 0, deleted = true))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val before = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    // pre-clustering, the RO view serves the RAW base (id 0 alive,
    // id 1 unpatched)
    assert(HudiCowLite.read(spark, root, readOptimized = true)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      (0L to 4L).map(i => (i, i * 3)))
    val instant = HudiMorLite.cluster(spark, root)
    assert(instant == "003")
    val snap = HudiMorLite.snapshot(spark, root)
    assert(snap.slices.size == 1 && snap.slices.head.logs.isEmpty)
    assert(HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      before)
    // the operational point: RO now equals the merge
    assert(HudiCowLite.read(spark, root, readOptimized = true)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      before)
  }

  test("compactLogs folds ONLY log-carrying slices into fresh bases " +
    "under the SAME file group: snapshot unchanged, RO serves the " +
    "merge, untouched groups keep their base, log-less tables refuse") {
    import spark.implicits._
    val root = fixture("logcompact")
    // group g2: a second, LOG-LESS group that must stay untouched
    LakeFiles.Local(root).parquet(
      spark.range(10, 13).select(col("id").cast("string")
        .as("_hoodie_record_key"), col("id"), (col("id") * 3).as("v")),
      "g2_0-0_002.parquet")
    commit(root, "002", "deltacommit", "g2_0-0_002.parquet",
      fileId = "g2")
    HudiMorLite.writeLogFile(s"$root/.g1_001.log.1",
      Seq(avroSchema -> Seq(rec(1, 100), rec(0, 0, deleted = true))))
    commit(root, "003", "deltacommit", ".g1_001.log.1")
    val before = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(before == (Seq((1L, 100L), (2L, 6L), (3L, 9L), (4L, 12L)) ++
      Seq(10L, 11L, 12L).map(i => (i, i * 3))).sorted)
    val instant = HudiMorLite.compactLogs(spark, root)
    assert(instant == "004")
    val snap = HudiMorLite.snapshot(spark, root)
    // g1 advanced to a fresh base at 004; g2 UNTOUCHED at its 002 base
    assert(snap.slices.forall(_.logs.isEmpty))
    val byFid = snap.slices.map(s => s.fileId -> s.baseInstant).toMap
    assert(byFid == Map("g1" -> "004", "g2" -> "002"), byFid.toString)
    assert(HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      before)
    // the operational point: READ-OPTIMIZED now equals the merge
    assert(HudiCowLite.read(spark, root, readOptimized = true)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      before)
    // nothing left to log-compact → refuses naming cluster
    val e = intercept[IllegalStateException] {
      HudiMorLite.compactLogs(spark, root)
    }
    assert(e.getMessage.contains("cluster"))
  }

  test("compactLogs is ONE distributed rewrite over ALL log-carrying " +
    "slices — the Spark job count stays bounded as slices grow (a " +
    "per-slice loop would submit jobs linear in the slice count); a " +
    "fully-dead slice advances to an empty base in the same pass") {
    import spark.implicits._
    val root = "/tmp/graft_hudimorspec/onejob"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n")
    val nGroups = 12
    // ONE staged write fans out the 12 bases (ids g*100..g*100+4)
    val tmp = s"$root/_tmp"
    spark.range(0, nGroups.toLong * 100 + 5)
      .filter(col("id") % 100 < 5)
      .select(col("id").cast("string").as("_hoodie_record_key"),
        (col("id") / 100).cast("int").as("_g"),
        col("id"), (col("id") * 3).as("v"))
      .repartition(col("_g")).write.mode("overwrite")
      .partitionBy("_g").parquet(tmp)
    val stats = (0 until nGroups).map { g =>
      val dir = new java.io.File(s"$tmp/_g=$g")
      val pf = dir.listFiles().find(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
      val name = s"g${g}_0-0_001.parquet"
      LakeFiles.move(pf, new java.io.File(s"$root/$name"))
      s"""{"fileId":"g$g","path":"$name","numWrites":5}"""
    }
    rm(new java.io.File(tmp))
    Files.writeString(Paths.get(root, ".hoodie", "001.commit"),
      s"""{"partitionToWriteStats":{"":[${stats.mkString(",")}]}}""")
    // one log per group: patch key g*100 to v=999; group 3's log
    // soft-deletes ALL its rows instead (the empty-base leg)
    val logStats = (0 until nGroups).map { g =>
      val recs =
        if (g == 3) (0 until 5).map(i =>
          rec(300L + i, 0, deleted = true))
        else Seq(rec(g * 100L, 999))
      HudiMorLite.writeLogFile(s"$root/.g${g}_001.log.1",
        Seq(avroSchema -> recs))
      s"""{"fileId":"g$g","path":".g${g}_001.log.1","numWrites":1}"""
    }
    Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
      s"""{"partitionToWriteStats":{"":[${logStats.mkString(",")}]}}""")
    val before = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    // count jobs DURING the compaction
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val instant =
      try {
        val i = HudiMorLite.compactLogs(spark, root)
        // listener events are async — let the bus drain
        var last = -1
        var stable = 0
        while (stable < 5) {
          Thread.sleep(100)
          if (jobs.get() == last) stable += 1
          else { last = jobs.get(); stable = 0 }
        }
        i
      } finally spark.sparkContext.removeSparkListener(listener)
    // the OLD per-slice loop submitted >= 2 jobs per slice (24+ here);
    // the one-rewrite shape is a small constant independent of slices
    assert(jobs.get() <= 15,
      s"compactLogs submitted ${jobs.get()} jobs for $nGroups slices " +
        "— not the one-distributed-rewrite shape")
    assert(instant == "003")
    val snap = HudiMorLite.snapshot(spark, root)
    assert(snap.slices.size == nGroups &&
      snap.slices.forall(_.logs.isEmpty))
    assert(snap.slices.forall(_.baseInstant == "003"))
    val after = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(after == before, s"merged view changed: $after vs $before")
    // group 3 is EMPTY but alive; the patched keys carry v=999
    assert(!after.exists(t => t._1 >= 300 && t._1 < 305))
    assert((0 until nGroups).filter(_ != 3)
      .forall(g => after.contains((g * 100L, 999L))))
  }

  test("multi-partition MOR cluster packs per partition via " +
    "_hoodie_partition_path: logs fold in, replacecommit carries " +
    "both partitions") {
    import spark.implicits._
    val root = "/tmp/graft_hudimorspec/clusterpart"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n")
    def one(ids: Range, part: String, out: String): Unit = {
      LakeFiles.Local(root).parquet(
        spark.range(ids.start, ids.end).select(
          col("id").cast("string").as("_hoodie_record_key"),
          lit(s"p=$part").as("_hoodie_partition_path"),
          col("id"), (col("id") * 3).as("v")),
        out)
    }
    one(0 until 5, "x", "p=x/gx_0-0_001.parquet")
    one(10 until 15, "y", "p=y/gy_0-0_001.parquet")
    Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
      """{"partitionToWriteStats":{"p=x":[{"fileId":"gx","path":"p=x/gx_0-0_001.parquet","numWrites":5}],"p=y":[{"fileId":"gy","path":"p=y/gy_0-0_001.parquet","numWrites":5}]}}""")
    // a log upsert in p=x only: id 1 -> 100
    val partSchema =
      """{"type":"record","name":"r","fields":[
        | {"name":"_hoodie_record_key","type":"string"},
        | {"name":"_hoodie_partition_path","type":"string"},
        | {"name":"id","type":"long"},
        | {"name":"v","type":"long"},
        | {"name":"_hoodie_is_deleted","type":"boolean"}]}""".stripMargin
    HudiMorLite.writeLogFile(s"$root/p=x/.gx_001.log.1",
      Seq(partSchema -> Seq(Map("_hoodie_record_key" -> "1",
        "_hoodie_partition_path" -> "p=x", "id" -> 1L, "v" -> 100L,
        "_hoodie_is_deleted" -> false))))
    Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
      """{"partitionToWriteStats":{"p=x":[{"fileId":"gx","path":"p=x/.gx_001.log.1","numWrites":1}]}}""")
    val before = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(before.contains((1L, 100L)) && before.size == 10)
    val instant = HudiMorLite.cluster(spark, root)
    assert(instant == "003")
    val snap = HudiMorLite.snapshot(spark, root)
    assert(snap.slices.size == 2 && snap.slices.forall(_.logs.isEmpty))
    assert(snap.slices.map(_.partition).toSet == Set("p=x", "p=y"))
    assert(HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      before)
    // the rewritten base files live under their partition dirs
    assert(snap.slices.forall(s =>
      s.basePath.contains(s"/${s.partition}/cl003")))
  }

  test("later blocks and later log files win; delete then re-insert " +
    "resurrects") {
    import spark.implicits._
    val root = fixture("order")
    // log.1: two blocks — block 0 sets id 1 to 50, block 1 deletes it
    HudiMorLite.writeLogFile(s"$root/.g1_001.log.1",
      Seq(avroSchema -> Seq(rec(1, 50)),
        avroSchema -> Seq(rec(1, 0, deleted = true))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    assert(!HudiMorLite.read(spark, root).select("id").as[Long]
      .collect().contains(1L))
    // log.2 (same slice, later version): re-insert id 1 at 77
    HudiMorLite.writeLogFile(s"$root/.g1_001.log.2",
      Seq(avroSchema -> Seq(rec(1, 77))))
    commit(root, "003", "deltacommit", ".g1_001.log.2")
    val got = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got.contains((1L, 77L)))
    assert(got.size == 5)
  }

  test("a compaction's base rewrite starts a new slice: old logs are " +
    "absorbed") {
    import spark.implicits._
    val root = fixture("compact")
    HudiMorLite.writeLogFile(s"$root/.g1_001.log.1",
      Seq(avroSchema -> Seq(rec(1, 100))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    // compaction at 003 rewrites the base (merged state: id1 -> 100)
    LakeFiles.Local(root).parquet(
      spark.range(0, 5).select(col("id").cast("string")
        .as("_hoodie_record_key"), col("id"),
        when(col("id") === 1, 100L).otherwise(col("id") * 3).as("v")),
      "g1_0-0_003.parquet")
    commit(root, "003", "commit", "g1_0-0_003.parquet")
    val snap = HudiMorLite.snapshot(spark, root)
    assert(snap.slices.head.logs.isEmpty)
    assert(snap.slices.head.baseInstant == "003")
    assert(HudiMorLite.read(spark, root)
      .filter(col("id") === 1).select("v").as[Long].head() == 100L)
    // a stale log naming the OLD base instant refuses
    HudiMorLite.writeLogFile(s"$root/.g1_001.log.3",
      Seq(avroSchema -> Seq(rec(2, 0, deleted = true))))
    commit(root, "004", "deltacommit", ".g1_001.log.3")
    val e = intercept[IllegalStateException] {
      HudiMorLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("stale/foreign log"))
  }

  private def chain(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ chain(x.getCause))

  test("DELETE_BLOCK hard-deletes its keys; a later re-insert " +
    "survives; soft and hard deletes share one order stream") {
    import spark.implicits._
    val root = fixture("harddelete")
    // log.1: block 0 upserts id 1 → 100, block 1 HARD-deletes ids 1,2
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(1, 100))),
      HudiMorLite.DeleteBlockSpec(Seq(
        "1" -> Some(""), "2" -> None))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val got = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((0L, 0L), (3L, 9L), (4L, 12L)))
    // log.2: re-insert id 2 at 55 — outranks its hard delete
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2", Seq(
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(2, 55)))))
    commit(root, "003", "deltacommit", ".g1_001.log.2")
    val got2 = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got2 == Seq((0L, 0L), (2L, 55L), (3L, 9L), (4L, 12L)))
  }

  test("DELETE_BLOCK content versions 1/2 (Kryo) refuse BY VERSION; " +
    "non-trivial orderingVal refuses; foreign partitionPath refuses") {
    val root = fixture("delversions")
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.DeleteBlockSpec(Seq("1" -> None), contentVersion = 2)))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val e = intercept[Exception] { HudiMorLite.read(spark, root).collect() }
    assert(chain(e).exists(m => m.contains("content version 2") &&
      m.contains("Kryo")))
    // orderingVal: zero numerics mean "no ordering" and pass; anything
    // else is event-time merge order — outside scope
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.DeleteBlockSpec(Seq("1" -> None),
        orderingVal = Some(0L))))
    assert(!HudiMorLite.read(spark, root).filter(col("id") === 1)
      .collect().nonEmpty)
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.DeleteBlockSpec(Seq("1" -> None),
        orderingVal = Some(42L))))
    val e2 = intercept[Exception] { HudiMorLite.read(spark, root).collect() }
    assert(chain(e2).exists(_.contains("orderingVal")))
    // a delete claiming a partition other than the slice's refuses
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.DeleteBlockSpec(Seq("1" -> Some("other_part")))))
    val e3 = intercept[Exception] { HudiMorLite.read(spark, root).collect() }
    assert(chain(e3).exists(_.contains("foreign log")))
  }

  test("a rollback COMMAND_BLOCK invalidates exactly the blocks with " +
    "its target INSTANT_TIME — same file and across files") {
    import spark.implicits._
    val root = fixture("rollback")
    // log.1: good block (instant 002, id1→100), failed block (instant
    // 003, id2→999), rollback of 003 IN THE SAME FILE
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(1, 100)),
        instantTime = Some("002")),
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(2, 999)),
        instantTime = Some("003")),
      HudiMorLite.CommandBlockSpec(Some("003"))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val got = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((0L, 0L), (1L, 100L), (2L, 6L), (3L, 9L),
      (4L, 12L)))
    // CROSS-FILE: log.2's failed block (instant 004, id3→888) is
    // rolled back by a command in log.3; log.3 then appends a good
    // instant-005 block (id4→55)
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2", Seq(
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(3, 888)),
        instantTime = Some("004"))))
    commit(root, "004", "deltacommit", ".g1_001.log.2")
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.3", Seq(
      HudiMorLite.CommandBlockSpec(Some("004")),
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(4, 55)),
        instantTime = Some("005"))))
    commit(root, "005", "deltacommit", ".g1_001.log.3")
    val got2 = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got2 == Seq((0L, 0L), (1L, 100L), (2L, 6L), (3L, 9L),
      (4L, 55L)))
    // a DELETE_BLOCK is rolled back the same way (it carries
    // INSTANT_TIME like any block)
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.4", Seq(
      HudiMorLite.DeleteBlockSpec(Seq("1" -> None),
        instantTime = Some("006")),
      HudiMorLite.CommandBlockSpec(Some("006"))))
    commit(root, "006", "deltacommit", ".g1_001.log.4")
    assert(HudiMorLite.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("unknown command types, targetless rollbacks, and rollbacks " +
    "over INSTANT_TIME-less blocks refuse loudly") {
    val root = fixture("rbrefuse")
    // unknown command type
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.CommandBlockSpec(Some("002"), commandType = "7")))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val e = intercept[Exception] { HudiMorLite.read(spark, root).collect() }
    assert(chain(e).exists(_.contains("unknown type 7")))
    // rollback without TARGET_INSTANT_TIME
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.CommandBlockSpec(None)))
    val e2 = intercept[Exception] { HudiMorLite.read(spark, root).collect() }
    assert(chain(e2).exists(_.contains("TARGET_INSTANT_TIME")))
    // a rollback following a block with no INSTANT_TIME header is
    // undecidable — refuse
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(1, 100))),
      HudiMorLite.CommandBlockSpec(Some("002"))))
    val e3 = intercept[Exception] { HudiMorLite.read(spark, root).collect() }
    assert(chain(e3).exists(_.contains("no INSTANT_TIME")))
    // a rollback targeting an instant no block carries is a no-op
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(1, 100)),
        instantTime = Some("002")),
      HudiMorLite.CommandBlockSpec(Some("999"))))
    import spark.implicits._
    assert(HudiMorLite.read(spark, root).filter(col("id") === 1)
      .select("v").as[Long].head() == 100L)
  }

  /** One coalesced parquet file's bytes for `df` — the
    * PARQUET_DATA_BLOCK content shape. */
  private def parquetBytes(df: org.apache.spark.sql.DataFrame)
  : Array[Byte] = {
    val tmp = new java.io.File("/tmp/graft_hudimorspec/_pqtmp")
    rm(tmp)
    val file = new java.io.File(tmp, "block.parquet")
    LakeFiles.stage(df, "parquet", new java.io.File(tmp, "_tmp"), file)
    val bytes = Files.readAllBytes(file.toPath)
    rm(tmp)
    bytes
  }

  test("PARQUET_DATA_BLOCK: parquet log blocks merge like Avro ones; " +
    "missing columns refuse") {
    import spark.implicits._
    val root = fixture("pqblock")
    // parquet block: upsert id1 → 100, soft-delete id0 (same algebra
    // as the happy-path Avro test)
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.ParquetBlockSpec(parquetBytes(
        Seq(("1", 1L, 100L, false), ("0", 0L, 0L, true))
          .toDF("_hoodie_record_key", "id", "v", "_hoodie_is_deleted")))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val got = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 100L), (2L, 6L), (3L, 9L), (4L, 12L)))
    // a later AVRO block in the same stream outranks the parquet one
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2", Seq(
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(1, 77)))))
    commit(root, "003", "deltacommit", ".g1_001.log.2")
    assert(HudiMorLite.read(spark, root).filter(col("id") === 1)
      .select("v").as[Long].head() == 77L)
    // a parquet block lacking an output column refuses (partial
    // records are outside scope — same contract as Avro blocks)
    val root2 = fixture("pqmissing")
    HudiMorLite.writeLogBlocks(s"$root2/.g1_001.log.1", Seq(
      HudiMorLite.ParquetBlockSpec(parquetBytes(
        Seq(("1", 1L)).toDF("_hoodie_record_key", "id")))))
    commit(root2, "002", "deltacommit", ".g1_001.log.1")
    val e = intercept[Exception] { HudiMorLite.read(spark, root2).collect() }
    assert(chain(e).exists(_.contains("lack columns")))
    // garbage content refuses as non-parquet
    val root3 = fixture("pqgarbage")
    HudiMorLite.writeLogBlocks(s"$root3/.g1_001.log.1", Seq(
      HudiMorLite.ParquetBlockSpec(
        Array.fill[Byte](64)(0x42))))
    commit(root3, "002", "deltacommit", ".g1_001.log.1")
    val e2 = intercept[Exception] { HudiMorLite.read(spark, root3).collect() }
    assert(chain(e2).exists(_.contains("does not parse as parquet")))
  }

  test("foreign block types, corrupt magic, and wrong format version " +
    "refuse loudly") {
    val root = fixture("badblocks")
    // HFILE_DATA_BLOCK (ordinal 4) is outside scope
    HudiMorLite.writeLogFile(s"$root/.g1_001.log.1",
      Seq(avroSchema -> Seq(rec(1, 1))), blockType = 4)
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val e = intercept[Exception] {
      HudiMorLite.read(spark, root).collect()
    }
    assert(chain(e).exists(_.contains("HFILE_DATA_BLOCK")))
    // corrupt magic
    val bytes = Files.readAllBytes(Paths.get(s"$root/.g1_001.log.1"))
    bytes(0) = '!'.toByte
    Files.write(Paths.get(s"$root/.g1_001.log.1"), bytes)
    val e2 = intercept[Exception] {
      HudiMorLite.read(spark, root).collect()
    }
    assert(chain(e2).exists(_.contains("#HUDI#")))
    // wrong log-format version (patch the int after magic+length)
    HudiMorLite.writeLogFile(s"$root/.g1_001.log.1",
      Seq(avroSchema -> Seq(rec(1, 1))))
    val b3 = Files.readAllBytes(Paths.get(s"$root/.g1_001.log.1"))
    b3(6 + 8 + 3) = 9 // low byte of the big-endian version int
    Files.write(Paths.get(s"$root/.g1_001.log.1"), b3)
    val e3 = intercept[Exception] {
      HudiMorLite.read(spark, root).collect()
    }
    assert(chain(e3).exists(_.contains("log-format version")))
  }

  private val partAvroSchema =
    """{"type":"record","name":"r","fields":[
      | {"name":"_hoodie_record_key","type":"string"},
      | {"name":"_hoodie_partition_path","type":"string"},
      | {"name":"id","type":"long"},
      | {"name":"v","type":"long"},
      | {"name":"_hoodie_is_deleted","type":"boolean"}]}""".stripMargin

  /** Partitioned MOR table: partitions A and B each hold ids 0..2
    * under the SAME record keys (non-global index), A at v=id, B at
    * v=id+100. `withPartCol=false` authors base files WITHOUT
    * _hoodie_partition_path. */
  private def partFixture(name: String, withPartCol: Boolean): String = {
    val root = s"/tmp/graft_hudimorspec/$name"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n")
    val stats = Seq("A" -> 0L, "B" -> 100L).map { case (p, off) =>
      var df = spark.range(0, 3).select(
        col("id").cast("string").as("_hoodie_record_key"),
        lit(p).as("_hoodie_partition_path"),
        col("id"), (col("id") + off).as("v"))
      if (!withPartCol) df = df.drop("_hoodie_partition_path")
      LakeFiles.Local(root).parquet(df, s"$p/g$p-0-0_001.parquet")
      s""""$p":[{"fileId":"g$p","path":"$p/g$p-0-0_001.parquet","numWrites":1}]"""
    }
    Files.writeString(Paths.get(root, ".hoodie", "001.deltacommit"),
      s"""{"partitionToWriteStats":{${stats.mkString(",")}}}""")
    root
  }

  test("the merge keys on (partition, record key): a log in one " +
    "partition never patches the same key elsewhere") {
    import spark.implicits._
    val root = partFixture("partitioned", withPartCol = true)
    // partition A's log: upsert key 1 → 50, hard-delete key 2
    HudiMorLite.writeLogBlocks(s"$root/A/.gA_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(partAvroSchema, Seq(Map[String, Any](
        "_hoodie_record_key" -> "1", "_hoodie_partition_path" -> "A",
        "id" -> 1L, "v" -> 50L, "_hoodie_is_deleted" -> false))),
      HudiMorLite.DeleteBlockSpec(Seq("2" -> Some("A")))))
    Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
      """{"partitionToWriteStats":{"A":[{"fileId":"gA","path":"A/.gA_001.log.1","numWrites":1}]}}""")
    val got = HudiMorLite.read(spark, root)
      .select(col("_hoodie_partition_path"), col("id"), col("v"))
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(("A", 0L, 0L), ("A", 1L, 50L),
      ("B", 0L, 100L), ("B", 1L, 101L), ("B", 2L, 102L)))
  }

  test("a multi-partition table whose base files lack " +
    "_hoodie_partition_path refuses the merge") {
    val root = partFixture("partnocol", withPartCol = false)
    HudiMorLite.writeLogBlocks(s"$root/A/.gA_001.log.1", Seq(
      HudiMorLite.DeleteBlockSpec(Seq("2" -> Some("A")))))
    Files.writeString(Paths.get(root, ".hoodie", "002.deltacommit"),
      """{"partitionToWriteStats":{"A":[{"fileId":"gA","path":"A/.gA_001.log.1","numWrites":1}]}}""")
    val e = intercept[IllegalStateException] {
      HudiMorLite.read(spark, root)
    }
    assert(e.getMessage.contains("multi-partition"))
  }

  private val pcAvroSchema =
    """{"type":"record","name":"r","fields":[
      | {"name":"_hoodie_record_key","type":"string"},
      | {"name":"id","type":"long"},
      | {"name":"v","type":"long"},
      | {"name":"ts","type":["null","long"],"default":null},
      | {"name":"_hoodie_is_deleted","type":"boolean"}]}""".stripMargin

  private def pcRec(id: Long, v: Long, ts: java.lang.Long,
                    deleted: Boolean = false): Map[String, Any] =
    Map("_hoodie_record_key" -> id.toString, "id" -> id, "v" -> v,
      "ts" -> ts, "_hoodie_is_deleted" -> deleted)

  /** MOR table with precombine field `ts`: base ids 0..4, v=id*3,
    * ts=10. */
  private def pcFixture(name: String): String = {
    val root = s"/tmp/graft_hudimorspec/$name"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n" +
        "hoodie.table.precombine.field=ts\n")
    LakeFiles.Local(root).parquet(
      spark.range(0, 5).select(col("id").cast("string")
        .as("_hoodie_record_key"), col("id"), (col("id") * 3).as("v"),
        lit(10L).as("ts")),
      "g1_0-0_001.parquet")
    commit(root, "001", "deltacommit", "g1_0-0_001.parquet")
    root
  }

  private val pcCtAvroSchema =
    """{"type":"record","name":"r","fields":[
      | {"name":"_hoodie_record_key","type":"string"},
      | {"name":"_hoodie_commit_time","type":"string"},
      | {"name":"id","type":"long"},
      | {"name":"v","type":"long"},
      | {"name":"ts","type":["null","long"],"default":null},
      | {"name":"_hoodie_is_deleted","type":"boolean"}]}""".stripMargin

  private def pcCtRec(id: Long, v: Long, ts: java.lang.Long, ct: String,
                      deleted: Boolean = false): Map[String, Any] =
    Map("_hoodie_record_key" -> id.toString,
      "_hoodie_commit_time" -> ct, "id" -> id, "v" -> v,
      "ts" -> ts, "_hoodie_is_deleted" -> deleted)

  /** Precombine MOR table whose base ALSO carries
    * `_hoodie_commit_time` (incremental-readable): ids 0..4, v=id*3,
    * ts=10, ct=001. */
  private def pcCtFixture(name: String): String = {
    val root = s"/tmp/graft_hudimorspec/$name"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n" +
        "hoodie.table.precombine.field=ts\n")
    LakeFiles.Local(root).parquet(
      spark.range(0, 5).select(col("id").cast("string")
        .as("_hoodie_record_key"), lit("001").as("_hoodie_commit_time"),
        col("id"), (col("id") * 3).as("v"), lit(10L).as("ts")),
      "g1_0-0_001.parquet")
    commit(root, "001", "deltacommit", "g1_0-0_001.parquet")
    root
  }

  test("precombine field: the HIGHER event time wins log-vs-log and " +
    "base-vs-log; equal orderings go to the incoming record") {
    import spark.implicits._
    val root = pcFixture("precombine")
    // log.1: id1 → 100 at ts=30 (outranks base ts=10)
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(pcAvroSchema, Seq(pcRec(1, 100, 30L)))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    // log.2 (LATER arrival): id1 → 999 at ts=20 — loses to log.1's 30;
    // id2 → 777 at ts=5 — loses to the BASE row's 10;
    // id3 → 500 at ts=10 — TIES the base, incoming wins
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2", Seq(
      HudiMorLite.AvroBlockSpec(pcAvroSchema, Seq(
        pcRec(1, 999, 20L), pcRec(2, 777, 5L), pcRec(3, 500, 10L)))))
    commit(root, "003", "deltacommit", ".g1_001.log.2")
    val got = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((0L, 0L), (1L, 100L), (2L, 6L), (3L, 500L),
      (4L, 12L)))
  }

  test("precombine deletes: a DELETE_BLOCK orders by its orderingVal " +
    "— an outranked delete loses to the stored row; trivial " +
    "orderingVal refuses") {
    import spark.implicits._
    val root = pcFixture("pcdelete")
    // delete id1 at orderingVal 50 (outranks base ts=10) → dies;
    // delete id4 at orderingVal 3 (loses to base ts=10) → survives
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.DeleteBlockSpec(Seq("1" -> None),
        orderingVal = Some(50L)),
      HudiMorLite.DeleteBlockSpec(Seq("4" -> None),
        orderingVal = Some(3L))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val got = HudiMorLite.read(spark, root)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(0L, 2L, 3L, 4L))
    // a delete WITHOUT orderingVal in a precombine table refuses
    // (natural-order deletes win at arrival — not foldable)
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.DeleteBlockSpec(Seq("1" -> None))))
    val e = intercept[Exception] { HudiMorLite.read(spark, root).collect() }
    assert(chain(e).exists(_.contains("natural-order")))
    // ... as does the explicit default 0
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.DeleteBlockSpec(Seq("1" -> None),
        orderingVal = Some(0L))))
    val e2 = intercept[Exception] { HudiMorLite.read(spark, root).collect() }
    assert(chain(e2).exists(_.contains("orderingVal 0")))
  }

  test("precombine refusals: unknown column, null event time in a " +
    "log record") {
    val root = pcFixture("pcrefuse")
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n" +
        "hoodie.table.precombine.field=nope\n")
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(pcAvroSchema, Seq(pcRec(1, 100, 30L)))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    val e = intercept[IllegalStateException] {
      HudiMorLite.read(spark, root)
    }
    assert(e.getMessage.contains("not a base column"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n" +
        "hoodie.table.precombine.field=ts\n")
    // a log record with a NULL ts cannot event-time-order
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(pcAvroSchema, Seq(pcRec(1, 100, null)))))
    val e2 = intercept[Exception] { HudiMorLite.read(spark, root).collect() }
    assert(chain(e2).exists(_.contains("NULL precombine")))
  }

  private val ctAvroSchema =
    """{"type":"record","name":"r","fields":[
      | {"name":"_hoodie_record_key","type":"string"},
      | {"name":"_hoodie_commit_time","type":"string"},
      | {"name":"id","type":"long"},
      | {"name":"v","type":"long"},
      | {"name":"_hoodie_is_deleted","type":"boolean"}]}""".stripMargin

  test("MOR incremental: log winners in range surface their merged " +
    "value; untouched base rows gate on commit time; deletes stay " +
    "invisible") {
    import spark.implicits._
    val root = s"/tmp/graft_hudimorspec/morinc"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n")
    val lake = LakeFiles.Local(root)
    lake.parquet(spark.range(0, 5).select(col("id").cast("string")
      .as("_hoodie_record_key"), lit("001").as("_hoodie_commit_time"),
      col("id"), (col("id") * 3).as("v")), "g1_0-0_001.parquet")
    commit(root, "001", "deltacommit", "g1_0-0_001.parquet")
    def ctRec(id: Long, v: Long, ct: String,
              deleted: Boolean = false): Map[String, Any] =
      Map("_hoodie_record_key" -> id.toString,
        "_hoodie_commit_time" -> ct, "id" -> id, "v" -> v,
        "_hoodie_is_deleted" -> deleted)
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(ctAvroSchema,
        Seq(ctRec(1, 100, "002")))))
    commit(root, "002", "deltacommit", ".g1_001.log.1")
    HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.2", Seq(
      HudiMorLite.AvroBlockSpec(ctAvroSchema,
        Seq(ctRec(1, 111, "003"), ctRec(2, 0, "003", deleted = true)))))
    // commit 003 also inserts a NEW file group g2 (ids 10, 11)
    lake.parquet(spark.range(10, 12).select(col("id").cast("string")
      .as("_hoodie_record_key"), lit("003").as("_hoodie_commit_time"),
      col("id"), (col("id") * 3).as("v")), "g2_0-0_003.parquet")
    Files.writeString(Paths.get(root, ".hoodie", "003.deltacommit"),
      """{"partitionToWriteStats":{"":[
        |{"fileId":"g1","path":".g1_001.log.2","numWrites":1},
        |{"fileId":"g2","path":"g2_0-0_003.parquet","numWrites":1}
        |]}}""".stripMargin)
    // (001, latest]: id1's merged 111, g2's inserts; id2's delete and
    // the ct=001 rows invisible
    val got = HudiMorLite.readIncremental(spark, root, "001")
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 111L), (10L, 30L), (11L, 33L)))
    // (001, 002]: only id1 at its AS-OF-002 merged value
    assert(HudiMorLite.readIncremental(spark, root, "001", Some("002"))
      .select("id", "v").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 100L)))
    // begin >= end refuses; mixed-width begin refuses
    intercept[IllegalArgumentException] {
      HudiMorLite.readIncremental(spark, root, "003")
    }
    intercept[IllegalStateException] {
      HudiMorLite.readIncremental(spark, root, "1")
    }
    // precombine × incremental: ARRIVAL selects the keys, EVENT TIME
    // decides the value — a late lower-ordering record selects its
    // key into the range yet the stored row's value surfaces
    val root2 = pcCtFixture("morincpc")
    HudiMorLite.writeLogBlocks(s"$root2/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(pcCtAvroSchema,
        Seq(pcCtRec(1, 100, 30L, "002")))))
    commit(root2, "002", "deltacommit", ".g1_001.log.1")
    HudiMorLite.writeLogBlocks(s"$root2/.g1_001.log.2", Seq(
      HudiMorLite.AvroBlockSpec(pcCtAvroSchema, Seq(
        pcCtRec(1, 999, 20L, "003"), // late, loses to ts=30
        pcCtRec(2, 777, 5L, "003"),  // loses to the BASE's ts=10
        pcCtRec(3, 500, 40L, "003"), // wins vs base
        pcCtRec(0, 0, 50L, "003", deleted = true))))) // winning delete
    commit(root2, "003", "deltacommit", ".g1_001.log.2")
    val gotPc = HudiMorLite.readIncremental(spark, root2, "002")
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(gotPc == Seq((1L, 100L), (2L, 6L), (3L, 500L)),
      s"precombine incremental: $gotPc")
    // a base without _hoodie_commit_time refuses
    val root3 = fixture("morincnoct")
    HudiMorLite.writeLogBlocks(s"$root3/.g1_001.log.1", Seq(
      HudiMorLite.AvroBlockSpec(avroSchema, Seq(rec(1, 100)))))
    commit(root3, "002", "deltacommit", ".g1_001.log.1")
    val e2 = intercept[IllegalStateException] {
      HudiMorLite.readIncremental(spark, root3, "001")
    }
    assert(e2.getMessage.contains("_hoodie_commit_time"))
  }

  /** q431-style base WITH `_hoodie_commit_time` (001) so incremental
    * reads bound — the write-path tests' fixture. */
  private def ctFixture(name: String): String = {
    val root = s"/tmp/graft_hudimorspec/$name"
    rm(new java.io.File(root))
    Files.createDirectories(Paths.get(root, ".hoodie"))
    Files.writeString(Paths.get(root, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=MERGE_ON_READ\n")
    LakeFiles.Local(root).parquet(
      spark.range(0, 5).select(col("id").cast("string")
        .as("_hoodie_record_key"), lit("001").as("_hoodie_commit_time"),
        col("id"), (col("id") * 3).as("v")),
      "g1_0-0_001.parquet")
    commit(root, "001", "deltacommit", "g1_0-0_001.parquet")
    root
  }

  test("MOR row-level writes: upsert appends data blocks to the " +
    "slice's log (existing keys patch, NEW keys insert log-borne), " +
    "delete appends DELETE_BLOCKs, update rewrites matched rows in " +
    "place, incremental reads report exactly the change, and " +
    "compactLogs folds the appended blocks; no-match writes commit " +
    "nothing") {
    import spark.implicits._
    val root = ctFixture("writeops")
    def rows(): Seq[(Long, Long)] = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    // UPSERT: patch id 1 → 100, insert NEW key 9 → 90
    val updates = Seq((1L, 100L), (9L, 90L)).toDF("id", "v")
      .withColumn("_hoodie_record_key", col("id").cast("string"))
    assert(HudiMorLite.upsert(spark, root, updates) == "002")
    assert(rows() == Seq((0L, 0L), (1L, 100L), (2L, 6L), (3L, 9L),
      (4L, 12L), (9L, 90L)))
    // the write APPENDED a log — base untouched, one log on the slice
    val snap1 = HudiMorLite.snapshot(spark, root)
    assert(snap1.slices.size == 1 &&
      snap1.slices.head.baseInstant == "001" &&
      snap1.slices.head.logs.map(_.path.split('/').last) ==
        Seq(".g1_001.log.1"))
    // incremental (001, 002]: exactly the upserted keys
    assert(HudiMorLite.readIncremental(spark, root, "001")
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 100L), (9L, 90L)))
    // upserted rows stamp the new commit time; survivors keep 001
    val times = HudiMorLite.read(spark, root)
      .select(col("id"), col("_hoodie_commit_time"))
      .as[(Long, String)].collect().toMap
    assert(times(1L) == "002" && times(9L) == "002" &&
      times(0L) == "001")
    // DELETE by predicate: id 2 and the log-borne 9 die
    assert(HudiMorLite.delete(spark, root,
      col("id") === 2 || col("id") === 9) == "003")
    assert(rows() == Seq((0L, 0L), (1L, 100L), (3L, 9L), (4L, 12L)))
    // UPDATE by predicate
    assert(HudiMorLite.update(spark, root, col("id") === 3,
      Map("v" -> (col("v") + 1000))) == "004")
    assert(rows() == Seq((0L, 0L), (1L, 100L), (3L, 1009L),
      (4L, 12L)))
    // no-match delete/update commit NOTHING
    assert(HudiMorLite.delete(spark, root, col("id") > 100) == "004")
    assert(HudiMorLite.update(spark, root, col("id") > 100,
      Map("v" -> lit(0L))) == "004")
    // SET on a meta column / unknown column refuses
    assert(intercept[IllegalStateException] {
      HudiMorLite.update(spark, root, col("id") === 0,
        Map("_hoodie_record_key" -> lit("x")))
    }.getMessage.contains("meta column"))
    assert(intercept[IllegalStateException] {
      HudiMorLite.update(spark, root, col("id") === 0,
        Map("nope" -> lit(0L)))
    }.getMessage.contains("nope"))
    // duplicate keys in one batch refuse
    assert(intercept[IllegalStateException] {
      HudiMorLite.upsert(spark, root, updates.unionByName(updates))
    }.getMessage.contains("DUPLICATE"))
    // compactLogs folds ALL the appended blocks into a fresh base
    val before = rows()
    HudiMorLite.compactLogs(spark, root): Unit
    val snap2 = HudiMorLite.snapshot(spark, root)
    assert(snap2.slices.forall(_.logs.isEmpty))
    assert(rows() == before)
    // GraftLake routes the MOR arms (the r19 refusals are gone)
    assert(graft.sources.GraftLake.delete(spark, root,
      col("id") === 4) == "006")
    assert(rows() == Seq((0L, 0L), (1L, 100L), (3L, 1009L)))
    assert(graft.sources.GraftLake.update(spark, root,
      col("id") === 0, Map("v" -> lit(7L))) == "007")
    assert(rows() == Seq((0L, 7L), (1L, 100L), (3L, 1009L)))
  }

  test("MOR writes on a PRECOMBINE table: the delete's orderingVal " +
    "stamps the dying row's own event time (so it wins at-arrival " +
    "ties), and an upsert whose event time is LOWER than the stored " +
    "row's loses the merge — DefaultHoodieRecordPayload semantics " +
    "end-to-end through the writers") {
    import spark.implicits._
    val root = pcCtFixture("writepc") // ids 0..4, v=id*3, ts=10
    def rows(): Seq[(Long, Long)] = HudiMorLite.read(spark, root)
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    // upsert id 1 at HIGHER ts → wins; id 2 at LOWER ts → loses
    val ups = Seq((1L, 111L, 20L), (2L, 222L, 5L))
      .toDF("id", "v", "ts")
      .withColumn("_hoodie_record_key", col("id").cast("string"))
    assert(HudiMorLite.upsert(spark, root, ups) == "002")
    assert(rows() == Seq((0L, 0L), (1L, 111L), (2L, 6L), (3L, 9L),
      (4L, 12L)))
    // delete id 3: the DELETE_BLOCK carries ts=10 (the stored row's
    // own ordering) — ties go to the incoming record, so it wins
    assert(HudiMorLite.delete(spark, root, col("id") === 3) == "003")
    assert(rows() == Seq((0L, 0L), (1L, 111L), (2L, 6L), (4L, 12L)))
    // compact folds the precombine merge exactly
    val before = rows()
    HudiMorLite.compactLogs(spark, root): Unit
    assert(rows() == before)
  }

  test("randomized WRITE-OP model check: upsert/delete/update/" +
    "compactLogs sequences keep the read model-equal, across seeds") {
    import spark.implicits._
    for (seed <- Seq(17, 404, 9090)) {
      val rnd = new scala.util.Random(seed)
      val root = ctFixture(s"writemodel$seed")
      val model = scala.collection.mutable.Map[Long, Long](
        (0L to 4L).map(i => i -> i * 3): _*)
      def check(tag: String): Unit = {
        val got = HudiMorLite.read(spark, root)
          .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
        assert(got == model.toSeq.sorted,
          s"seed $seed after $tag: got $got, want ${model.toSeq.sorted}")
      }
      val nOps = 5 + rnd.nextInt(4)
      for (op <- 1 to nOps) {
        rnd.nextInt(4) match {
          case 0 => // upsert a random batch (may insert new keys)
            val ks = rnd.shuffle((0L to 9L).toList)
              .take(1 + rnd.nextInt(4))
            val vs = ks.map(k => (k, rnd.nextInt(1000).toLong))
            HudiMorLite.upsert(spark, root, vs.toDF("id", "v")
              .withColumn("_hoodie_record_key",
                col("id").cast("string"))): Unit
            vs.foreach { case (k, v) => model(k) = v }
          case 1 => // predicate delete
            val m = 2 + rnd.nextInt(3)
            val r = rnd.nextInt(m)
            HudiMorLite.delete(spark, root, col("id") % m === r): Unit
            model.keys.filter(_ % m == r).toSeq
              .foreach(model.remove)
          case 2 => // predicate update
            val m = 2 + rnd.nextInt(3)
            val r = rnd.nextInt(m)
            val add = rnd.nextInt(100).toLong
            HudiMorLite.update(spark, root, col("id") % m === r,
              Map("v" -> (col("v") + add))): Unit
            model.keys.filter(_ % m == r).toSeq
              .foreach(k => model(k) = model(k) + add)
          case 3 =>
            if (HudiMorLite.snapshot(spark, root).slices
              .exists(_.logs.nonEmpty))
              HudiMorLite.compactLogs(spark, root): Unit
        }
        check(s"op $op")
      }
    }
  }

  test("randomized model check: the merged snapshot equals an " +
    "in-order event-log fold, across upserts, soft/hard deletes and " +
    "rolled-back commits") {
    import spark.implicits._
    for (seed <- Seq(11, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val root = fixture(s"model$seed") // base ids 0..4, v = id*3
      // model state: key -> Some(v) live / None tombstoned
      val state = scala.collection.mutable.Map[Long, Option[Long]](
        (0L to 4L).map(i => i -> Some(i * 3)): _*)
      val nCommits = 3 + rnd.nextInt(3)
      for (c <- 0 until nCommits) {
        val instant = f"${(c + 2) * 10}%03d"
        val failed = rnd.nextDouble() < 0.3
        // 1..6 events, folded into blocks by kind runs
        val events = (0 until (1 + rnd.nextInt(6))).map { _ =>
          val key = rnd.nextInt(8).toLong // keys 0..7 (5..7 insert new)
          rnd.nextInt(3) match {
            case 0 => ("up", key, rnd.nextInt(1000).toLong)
            case 1 => ("soft", key, 0L)
            case 2 => ("hard", key, 0L)
          }
        }
        val blocks = scala.collection.mutable
          .ArrayBuffer.empty[HudiMorLite.BlockSpec]
        var run = scala.collection.mutable
          .ArrayBuffer.empty[(String, Long, Long)]
        def flush(): Unit = if (run.nonEmpty) {
          if (run.head._1 == "hard")
            blocks += HudiMorLite.DeleteBlockSpec(
              run.toSeq.map(e => e._2.toString -> None),
              instantTime = Some(instant))
          else blocks += HudiMorLite.AvroBlockSpec(avroSchema,
            run.toSeq.map { case (k, key, v) =>
              rec(key, v, deleted = k == "soft") },
            instantTime = Some(instant))
          run.clear()
        }
        for (e @ (kind, _, _) <- events) {
          val isHard = kind == "hard"
          if (run.nonEmpty && (run.head._1 == "hard") != isHard) flush()
          run += e
        }
        flush()
        HudiMorLite.writeLogBlocks(
          s"$root/.g1_001.log.${(c + 1) * 10}", blocks.toSeq)
        commit(root, instant, "deltacommit",
          s".g1_001.log.${(c + 1) * 10}")
        if (failed) {
          // the rollback lands in its own LATER log file (cross-file),
          // committed between this instant and the next
          HudiMorLite.writeLogBlocks(
            s"$root/.g1_001.log.${(c + 1) * 10 + 5}", Seq(
              HudiMorLite.CommandBlockSpec(Some(instant))))
          commit(root, f"${(c + 2) * 10 + 5}%03d", "deltacommit",
            s".g1_001.log.${(c + 1) * 10 + 5}")
        } else {
          // apply to the model in event order
          events.foreach {
            case ("up", k, v)   => state(k) = Some(v)
            case ("soft", k, _) => state(k) = None
            case ("hard", k, _) => state(k) = None
          }
        }
      }
      val got = HudiMorLite.read(spark, root)
        .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
      val want = state.toSeq.collect { case (k, Some(v)) => (k, v) }
        .sorted
      assert(got == want, s"seed $seed: model mismatch " +
        s"(got $got, want $want)")
    }
  }

  test("randomized model check: the precombine merge AND its " +
    "incremental read equal an in-order payload fold (incoming wins " +
    "on ts >= current), across seeds") {
    import spark.implicits._
    final case class St(v: Long, ts: Long, deleted: Boolean)
    for (seed <- Seq(7, 99, 2024)) {
      val rnd = new scala.util.Random(seed)
      val root = pcCtFixture(s"pcmodel$seed")
      // base = ids 0..4 → (id*3, ts 10, alive); keys 5..7 insert new
      val state = scala.collection.mutable.Map[Long, St](
        (0L to 4L).map(i => i -> St(i * 3, 10L, deleted = false)): _*)
      val lastArrival = scala.collection.mutable.Map.empty[Long, String]
      val nCommits = 3 + rnd.nextInt(3)
      val instants = (0 until nCommits).map(c => f"${(c + 2) * 10}%03d")
      for ((instant, c) <- instants.zipWithIndex) {
        val events = (0 until (1 + rnd.nextInt(5))).map { _ =>
          (rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong,
            rnd.nextInt(40).toLong, rnd.nextDouble() < 0.25)
        }
        HudiMorLite.writeLogBlocks(s"$root/.g1_001.log.${c + 1}", Seq(
          HudiMorLite.AvroBlockSpec(pcCtAvroSchema, events.map {
            case (k, v, ts, del) =>
              pcCtRec(k, v, ts, instant, deleted = del) })))
        commit(root, instant, "deltacommit", s".g1_001.log.${c + 1}")
        events.foreach { case (k, v, ts, del) =>
          lastArrival(k) = instant
          // DefaultHoodieRecordPayload: incoming wins on ts >= current
          if (state.get(k).forall(ts >= _.ts)) state(k) = St(v, ts, del)
        }
      }
      val got = HudiMorLite.read(spark, root)
        .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
      val want = state.toSeq
        .collect { case (k, St(v, _, false)) => (k, v) }.sorted
      assert(got == want,
        s"seed $seed snapshot: got $got, want $want")
      // incremental over a random (begin, latest] range: ARRIVAL
      // selects the keys, the fold's outcome is the value
      val begin = instants(rnd.nextInt(instants.size - 1))
      val gotInc = HudiMorLite.readIncremental(spark, root, begin)
        .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
      // base rows all carry ct=001 < begin, so only log-touched keys
      // can surface; deleted outcomes stay invisible
      val wantInc = state.toSeq.collect {
        case (k, St(v, _, false))
          if lastArrival.get(k).exists(_ > begin) => (k, v)
      }.sorted
      assert(gotInc == wantInc,
        s"seed $seed incremental ($begin, latest]: got $gotInc, " +
          s"want $wantInc")
    }
  }

  test("logs without a base file and COW tables refuse loudly") {
    val root = fixture("nolog")
    HudiMorLite.writeLogFile(s"$root/.g9_001.log.1",
      Seq(avroSchema -> Seq(rec(1, 1))))
    commit(root, "002", "deltacommit", ".g9_001.log.1", fileId = "g9")
    val e = intercept[IllegalStateException] {
      HudiMorLite.snapshot(spark, root)
    }
    assert(e.getMessage.contains("NO base file"))
    // COW tables route through HudiCowLite
    val root2 = fixture("cow")
    Files.writeString(Paths.get(root2, ".hoodie", "hoodie.properties"),
      "hoodie.table.type=COPY_ON_WRITE\n")
    val e2 = intercept[IllegalStateException] {
      HudiMorLite.snapshot(spark, root2)
    }
    assert(e2.getMessage.contains("COPY_ON_WRITE"))
    // malformed log names refuse
    intercept[IllegalStateException] {
      HudiMorLite.parseLogName("not-a-log-name")
    }
    assert(HudiMorLite.parseLogName(".g1_001.log.2_0-1-2") ==
      ("g1", "001", 2))
  }
}
