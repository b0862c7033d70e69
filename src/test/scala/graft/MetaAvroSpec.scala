package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MetaAvro
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeFiles
import graft.sources.LakeFiles.rm

/** MetaAvro, the driver-side reader of Iceberg/Paimon Avro metadata,
  * against the Spark Avro scan it replaced: for every manifest list,
  * manifest and index manifest the lakehouse fixtures (and any spec
  * tables on disk) wrote, the schema and the collected rows must be
  * identical. Snapshot resolution through it (and through the
  * driver-side FooterSweep) must launch no Spark job. */
class MetaAvroSpec extends AnyFunSuite {
  import TestSession._

  private val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Avro metadata files under `root`: Iceberg's `metadata/` .avro files
    * and everything in Paimon's `manifest/` (lists, manifests, index
    * manifests). Hidden and staging files are skipped. */
  private def metadataFiles(root: String): Seq[Path] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Nil
    else {
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        val dir = Option(p.getParent).map(_.getFileName.toString)
        Files.isRegularFile(p) && !name.startsWith(".") &&
          !name.startsWith("_") &&
          (dir.contains("metadata") && name.endsWith(".avro") ||
            dir.contains("manifest"))
      }.toList.sortBy(_.toString)
      finally walk.close()
    }
  }

  /** Asserts the two readers agree on `p`; returns MetaAvro's result. */
  private def sameAsScan(p: String): MetaAvro.File = {
    val want = spark.read.format(avroFmt).load(p)
    val got = MetaAvro.read(spark, p)
    assert(got.schema == want.schema, s"$p: schema")
    assert(got.rows.toSeq == want.collect().toSeq, s"$p: rows")
    got
  }

  /** Which of the value shapes a reader must get right `f` exercises. */
  private def shapes(f: MetaAvro.File): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    if (f.rows.isEmpty) seen += "zero-record"
    def visit(t: DataType, v: Any, name: String): Unit = (t, v) match {
      case (_, null) => seen += "null"
      case (st: StructType, r: Row) =>
        if (name == "data_file") seen += "data_file struct"
        st.fields.zipWithIndex.foreach { case (fd, i) =>
          visit(fd.dataType, r.get(i), fd.name)
        }
      case (ArrayType(et, _), s: scala.collection.Seq[_]) =>
        if (name == "equality_ids" && s.nonEmpty) seen += "equality_ids"
        s.foreach(visit(et, _, name))
      case (MapType(kt, vt, _), m: scala.collection.Map[_, _]) =>
        if (m.nonEmpty) seen += "map"
        m.foreach { case (k, x) => visit(kt, k, name); visit(vt, x, name) }
      case (BinaryType, b: Array[Byte]) => if (b.nonEmpty) seen += "bytes"
      case _ =>
    }
    f.rows.foreach(visit(f.schema, _, ""))
    seen.toSet
  }

  /** One Spark-written Avro file at `dir/name` (the fixtures' way). */
  private def writeAvro(df: DataFrame, dir: String, name: String): String = {
    LakeFiles.Local(dir).avro(df, name)
    new java.io.File(s"$dir/$name").getPath
  }

  test("every fixture and spec-table metadata file reads identically " +
    "to the Spark Avro scan (nulls, data_file structs, equality_ids, " +
    "bytes, zero-record lists)") {
    // building each Iceberg/Paimon query authors its fixture tables
    for ((n, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if n.contains("iceberg") || n.contains("paimon")) fn(spark, sf)
    val roots = Seq("graft_iceberg", "graft_icestream", "graft_icespec",
      "graft_paimon", "graft_paimonstream", "graft_paimonspec")
      .map(d => s"/tmp/$d")
    val files = roots.flatMap(metadataFiles)
    assert(files.size >= 100, s"only ${files.size} metadata files found")
    val seen = files.flatMap(p => shapes(sameAsScan(p.toString))).toSet
    val want = Set("null", "data_file struct", "equality_ids", "bytes",
      "zero-record")
    assert(want.subsetOf(seen), s"fixtures never exercised ${want -- seen}")
  }

  test("maps, bytes, nulls and nested structs in a manifest-shaped file " +
    "read identically; an empty file keeps its schema") {
    val dir = "/tmp/graft_metaavro/shapes"
    rm(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    // per-column metric maps (string-keyed: Spark's Avro writer takes
    // no other map key) and key_metadata bytes, next to the
    // data_file/equality_ids shape of a delete manifest
    val entries = Seq(
      (1, Some(3L), "f0.parquet", Some(Seq(1, 4)),
        Map("1" -> 10L, "2" -> 0L), Some(Array[Byte](0, 7, -1))),
      (2, None, "f1.parquet", None, Map.empty[String, Long], None),
      (0, Some(5L), "f2.parquet", Some(Seq.empty[Int]),
        Map("3" -> 2L), Some(Array.empty[Byte])))
      .toDF("status", "sequence_number", "file_path", "equality_ids",
        "value_counts", "key_metadata")
      .select(col("status"), col("sequence_number"),
        struct(col("file_path"), lit(2).as("content"), col("equality_ids"),
          col("value_counts"), col("key_metadata")).as("data_file"),
        typedLit(Map("k" -> "v")).as("props"))
    val full = sameAsScan(writeAvro(entries, dir, "m-shapes.avro"))
    assert(Set("map", "bytes", "null", "data_file struct", "equality_ids")
      .subsetOf(shapes(full)))
    val empty = sameAsScan(writeAvro(entries.limit(0), dir, "m-empty.avro"))
    assert(empty.rows.isEmpty && empty.schema == full.schema)
    // a file: URI spelling (how manifest lists name absolute paths)
    val uri = MetaAvro.read(spark, s"file://$dir/m-shapes.avro")
    assert(uri.rows.toSeq == full.rows.toSeq)
    rm(new java.io.File(dir))
  }

  test("a missing, corrupt or truncated metadata file fails loudly " +
    "naming its path") {
    val dir = "/tmp/graft_metaavro/broken"
    rm(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir))
    val missing = s"$dir/snap-404.avro"
    val e1 = intercept[IllegalStateException](MetaAvro.read(spark, missing))
    assert(e1.getMessage.contains(missing), e1.getMessage)
    val garbage = s"$dir/garbage.avro"
    Files.write(Paths.get(garbage), "not an avro file".getBytes("UTF-8"))
    val e2 = intercept[IllegalStateException](MetaAvro.read(spark, garbage))
    assert(e2.getMessage.contains(garbage), e2.getMessage)
    import spark.implicits._
    val good = writeAvro((1 to 50).map(i => (i, s"m-$i.avro"))
      .toDF("content", "manifest_path"), dir, "good.avro")
    assert(MetaAvro.read(spark, good).rows.length == 50)
    val bytes = Files.readAllBytes(Paths.get(good))
    val cut = s"$dir/cut.avro"
    Files.write(Paths.get(cut), bytes.take(bytes.length - 20))
    val e3 = intercept[IllegalStateException](MetaAvro.read(spark, cut))
    assert(e3.getMessage.contains(cut), e3.getMessage)
    rm(new java.io.File(dir))
  }

  /** Call sites of the Spark jobs `body` launches. */
  private def jobsDuring(body: => Unit): List[String] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    listening(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.headOption.map(_.details)
          .getOrElse(s"job ${js.jobId}")): Unit
      }
    })(body)
    jobs.asScala.toList
  }

  test("resolving q391/q397/q406 on authored fixtures launches no Spark " +
    "job, as q389's Delta log replay already does") {
    val names = Seq("q389_delta_read", "q391_iceberg_read",
      "q397_paimon_read", "q406_iceberg_eq_delete")
    names.foreach(n => SparkEntry.queries(n)(spark, sf))
    // the counter sees a job when one runs
    assert(jobsDuring(spark.range(3).collect(): Unit).nonEmpty)
    val launched = names.map(n => n -> jobsDuring(
      SparkEntry.queries(n)(spark, sf): Unit))
    assert(launched.forall(_._2.isEmpty),
      s"jobs during the builder: ${launched.filter(_._2.nonEmpty)}")
  }

  test("FooterSweep reads footers on the driver, without a job, through " +
    "the session's Hadoop conf as MetaAvro does") {
    val dir = "/tmp/graft_metaavro/footers"
    rm(new java.io.File(dir))
    val df = spark.range(0, 6).select(col("id"), (col("id") * 2).as("v"))
    graft.sources.IcebergLite.stampFieldIds(df, Map("id" -> 1, "v" -> 2))
      .repartition(3).write.parquet(s"$dir/pq")
    df.repartition(2).write.orc(s"$dir/orc")
    import spark.implicits._
    val avro = writeAvro(Seq((0, "m-0.avro")).toDF("content",
      "manifest_path"), dir, "snap-0.avro")
    def files(sub: String, ext: String) =
      new java.io.File(s"$dir/$sub").listFiles().map(_.getPath)
        .filter(_.endsWith(ext)).toSeq.sorted
    val (pq, orc) = (files("pq", ".parquet"), files("orc", ".orc"))
    assert(pq.size == 3 && orc.size == 2)
    var pqFields: Map[String, Seq[(String, Option[Int])]] = null
    var orcCols: Map[String, Seq[String]] = null
    assert(jobsDuring {
      pqFields = graft.sources.FooterSweep.parquetFields(spark, pq)
      orcCols = graft.sources.FooterSweep.orcColumns(spark, orc)
    }.isEmpty)
    assert(pqFields.keySet == pq.toSet && pqFields.values.forall(
      _ == Seq("id" -> Some(1), "v" -> Some(2))), pqFields)
    assert(orcCols.keySet == orc.toSet &&
      orcCols.values.forall(_ == Seq("id", "v")), orcCols)
    // a session-level fs.* setting (here: the file:// FileSystem class)
    // reaches both readers
    val settings = Seq("fs.file.impl" -> classOf[CountingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    val opened = try {
      CountingLocalFs.inits.set(0)
      graft.sources.FooterSweep.parquetFields(spark, pq)
      graft.sources.FooterSweep.orcColumns(spark, orc)
      val afterFooters = CountingLocalFs.inits.get
      MetaAvro.read(spark, avro)
      (afterFooters, CountingLocalFs.inits.get - afterFooters)
    } finally settings.foreach { case (k, _) => spark.conf.unset(k) }
    assert(opened._1 >= pq.size + orc.size && opened._2 >= 1, opened)
    rm(new java.io.File(dir))
  }

  test("IcebergLite and PaimonLite open their metadata JSON and hint " +
    "through the session's Hadoop conf, as MetaAvro does") {
    Seq("q391_iceberg_read", "q397_paimon_read")
      .foreach(n => SparkEntry.queries(n)(spark, sf))
    // the two builders' memoized table roots
    val tag = Integer.toHexString(sf.hashCode)
    val ice = s"/tmp/graft_iceberg/li_$tag"
    val paimon = s"/tmp/graft_paimon/li_$tag"
    val iceOpens = CountingLocalFs.opens(spark)(
      graft.sources.IcebergLite.snapshot(spark, ice): Unit)
    assert(iceOpens.contains(s"$ice/metadata/version-hint.text") &&
      iceOpens.exists(_.endsWith(".metadata.json")) &&
      iceOpens.exists(_.endsWith(".avro")), iceOpens)
    val paimonOpens = CountingLocalFs.opens(spark)(
      graft.sources.PaimonLite.snapshot(spark, paimon): Unit)
    assert(Seq("snapshot/LATEST", "snapshot/snapshot-2", "schema/schema-0")
      .forall(f => paimonOpens.contains(s"$paimon/$f")) &&
      paimonOpens.exists(_.endsWith(".avro")), paimonOpens)
  }

  test("DeltaLogLite snapshot, delete and vacuum open each commit JSON " +
    "and _last_checkpoint once, through the session's Hadoop conf") {
    val root = "/tmp/graft_metaavro/delta"
    rm(new java.io.File(root))
    // commits 0..3 with a checkpoint at 2, then the pre-checkpoint JSONs
    // vacuumed: every commit left in the log is one a snapshot replays
    val sink = new org.apache.spark.sql.graftstream.DeltaStreamSink(
      spark.sqlContext, root, checkpointInterval = 2)
    for (b <- 0L to 3L)
      sink.addBatch(b, spark.range(b * 10, b * 10 + 5).select(col("id")))
    val logDir = new java.io.File(s"$root/_delta_log")
    for (v <- 0L to 2L)
      assert(new java.io.File(logDir, f"$v%020d.json").delete())
    /** How often `body` opens each commit JSON and `_last_checkpoint`,
      * against the once each that the log holds. */
    def logOpens(body: => Unit): (Map[String, Int], Map[String, Int]) = {
      val want = logDir.list().toSeq
        .filter(n => n.matches("\\d{20}\\.json") || n == "_last_checkpoint")
        .map(n => s"$root/_delta_log/$n" -> 1).toMap
      val got = CountingLocalFs.opens(spark)(body)
        .filter(p => want.contains(p) || p.endsWith(".json"))
        .groupBy(identity).map { case (p, ps) => p -> ps.size }
      (got, want)
    }
    val (snapGot, snapWant) = logOpens(
      graft.sources.DeltaLogLite.snapshot(spark, root): Unit)
    assert(snapWant.size == 2 && snapGot == snapWant, snapGot)
    val (delGot, delWant) = logOpens(
      graft.sources.DeltaLogLite.delete(spark, root, col("id") === 31): Unit)
    assert(delGot == delWant, delGot)
    val (vacGot, vacWant) = logOpens(
      graft.sources.DeltaLogLite.vacuum(spark, root): Unit)
    assert(vacWant.size == 3 && vacGot == vacWant, vacGot)
    rm(new java.io.File(root))
  }
}

/** The local FileSystem, counting its instances and recording the paths
  * it opens: set as `fs.file.impl` (with the cache off) it shows which
  * reads see a session setting, and how often each file is read. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def initialize(name: java.net.URI,
                          conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(name, conf)
    CountingLocalFs.inits.incrementAndGet(): Unit
  }

  override def open(f: org.apache.hadoop.fs.Path,
                    bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val inits = new java.util.concurrent.atomic.AtomicInteger
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** The paths `body` opens, in order, while the session's `file:`
    * filesystem is this one. */
  def opens(spark: org.apache.spark.sql.SparkSession)
           (body: => Unit): Seq[String] = {
    val settings = Seq("fs.file.impl" -> classOf[CountingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    opened.clear()
    try body finally settings.foreach { case (k, _) => spark.conf.unset(k) }
    opened.asScala.toList
  }
}
