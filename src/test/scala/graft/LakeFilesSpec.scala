package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.MetaAvro
import org.apache.spark.sql.graftstream.{DeltaStreamSink, IcebergStreamSink,
  PaimonStreamSink}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaLogLite, IcebergLite, LakeFiles, PaimonLite}

/** LakeFiles, the file mechanics shared by the lakehouse writers, the
  * stream sinks and the query fixture authors: single-file staging in
  * its local and Hadoop variants, the checked move (no `.crc` sidecar
  * reaches a table, compactions included), recursive delete and JSON
  * string escaping. Also guards `src/main` against side effects inside
  * `assert`, which the compiler may elide, and the Delta, Iceberg and
  * Paimon code against the context's Hadoop conf. */
class LakeFilesSpec extends AnyFunSuite {
  import TestSession._

  private def withDir(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("lakefiles-spec").toFile
    try body(dir) finally LakeFiles.rm(dir)
  }

  private def names(dir: File): Seq[String] =
    Option(dir.list()).toSeq.flatten.sorted

  private def frame(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") * 2.5).as("v"),
      concat(lit("r"), col("id").cast("string")).as("s"))

  private def sameRows(got: Seq[Row], want: DataFrame): Unit =
    assert(got.map(_.toSeq).sortBy(_.head.toString) ===
      want.collect().toSeq.map(_.toSeq).sortBy(_.head.toString))

  /** One staged file at `dst`: the frame's schema and rows. */
  private def checkStaged(fmt: String, dst: File, df: DataFrame): Unit = {
    assert(dst.isFile, s"$dst missing")
    if (fmt == LakeFiles.Avro) {
      val f = MetaAvro.read(spark, dst.getPath)
      assert(f.schema.map(c => (c.name, c.dataType)) ===
        df.schema.map(c => (c.name, c.dataType)))
      sameRows(f.rows.toSeq, df)
    } else {
      val back = spark.read.format(fmt).load(dst.getPath)
      assert(back.schema.map(c => (c.name, c.dataType)) ===
        df.schema.map(c => (c.name, c.dataType)))
      sameRows(back.collect().toSeq, df)
    }
  }

  for (fmt <- Seq("parquet", LakeFiles.Avro); n <- Seq(7, 0)) {
    val label = s"${if (fmt == "parquet") "parquet" else "avro"}, $n rows"
    test(s"local staging ($label): one file, no temp dir, no .crc") {
      withDir { dir =>
        val df = frame(n)
        val dst = new File(dir, "meta/out.bin")
        LakeFiles.stage(df, fmt, new File(dir, "_tmp"), dst)
        assert(names(dir) === Seq("meta"))
        assert(names(dst.getParentFile) === Seq("out.bin"))
        checkStaged(fmt, dst, df)
      }
    }

    test(s"Hadoop staging ($label): one file, no temp dir") {
      withDir { dir =>
        val df = frame(n)
        val root = new HPath(dir.toURI)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val dst = new HPath(root, "meta/out.bin")
        LakeFiles.stage(fs, df, fmt, new HPath(root, "_tmp"), dst)
        assert(names(dir) === Seq("meta"))
        // the checksum filesystem carries its sidecar along
        assert(names(new File(dir, "meta")).filterNot(_.endsWith(".crc")) ===
          Seq("out.bin"))
        checkStaged(fmt, new File(dir, "meta/out.bin"), df)
      }
    }
  }

  test("Local and Hadoop bind the staging temp directories") {
    withDir { dir =>
      val lake = LakeFiles.Local(dir.getPath)
      lake.parquet(frame(3), "data/a.parquet")
      lake.avro(frame(3), "metadata/m.avro")
      val root = new HPath(dir.toURI)
      LakeFiles.Hadoop(root.getFileSystem(spark.sessionState
        .newHadoopConf()), root.toString).avro(frame(2), "metadata/h.avro")
      assert(names(dir) === Seq("data", "metadata"))
      assert(names(new File(dir, "data")) === Seq("a.parquet"))
      assert(names(new File(dir, "metadata")).filterNot(_.endsWith(".crc"))
        === Seq("h.avro", "m.avro"))
      checkStaged(LakeFiles.Avro, new File(dir, "metadata/m.avro"), frame(3))
    }
  }

  /** Every `.crc` file under `dir`, relative to it. */
  private def crcs(dir: File): Seq[String] = {
    val walk = Files.walk(dir.toPath)
    try walk.iterator().asScala.map(p => dir.toPath.relativize(p).toString)
      .filter(_.endsWith(".crc")).toList.sorted
    finally walk.close()
  }

  /** A two-commit table authored by a format's stream sink, then
    * rewritten by that format's compaction. */
  private def compacted(sink: String => Sink,
                        compact: String => Any)(dir: File): Unit = {
    val root = new File(dir, "t").getPath
    val s = sink(root)
    s.addBatch(0L, frame(5))
    s.addBatch(1L, frame(3))
    compact(root)
  }

  // everything written through a checksum filesystem into a table
  private val crcFree: Seq[(String, File => Unit)] = Seq(
    "Hadoop staging" -> { dir =>
      val root = new HPath(dir.toURI)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.isInstanceOf[org.apache.hadoop.fs.ChecksumFileSystem])
      LakeFiles.Hadoop(fs, root.toString).avro(frame(4), "metadata/m.avro")
      LakeFiles.stage(fs, frame(3), "parquet", new HPath(root, "_tmp"),
        new HPath(root, "data/d.parquet"))
      assert(names(dir) === Seq("data", "metadata"))
      assert(names(new File(dir, "metadata")) === Seq("m.avro"))
      assert(names(new File(dir, "data")) === Seq("d.parquet"))
      checkStaged(LakeFiles.Avro, new File(dir, "metadata/m.avro"), frame(4))
    },
    "Delta compact" -> compacted(new DeltaStreamSink(spark.sqlContext, _),
      DeltaLogLite.compact(spark, _)),
    "Iceberg compact" -> compacted(new IcebergStreamSink(spark.sqlContext, _),
      IcebergLite.compact(spark, _)),
    "Paimon compact" -> compacted(new PaimonStreamSink(spark.sqlContext, _),
      PaimonLite.compact(spark, _)))

  for ((what, write) <- crcFree)
    test(s"$what into a file: table leaves no .crc sidecar") {
      withDir { dir =>
        write(dir)
        assert(crcs(dir).isEmpty, crcs(dir))
      }
    }

  test("the Delta, Iceberg and Paimon readers and their stream sinks " +
    "take the session's Hadoop conf, never the context's") {
    val files = Seq("DeltaLogLite", "IcebergLite", "PaimonLite")
      .map(n => s"src/main/scala/graft/sources/$n.scala") ++
      Seq("Delta", "Iceberg", "Paimon").map(n =>
        s"src/main/scala/org/apache/spark/sql/graftstream/${n}StreamSinkLite.scala")
    files.foreach(f => assert(Files.isRegularFile(Paths.get(f)),
      s"run from the project root: $f"))
    val bad = files.filter(f => Files.readString(Paths.get(f))
      .contains("sparkContext.hadoopConfiguration"))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("move to a missing parent throws naming both paths") {
    withDir { dir =>
      val src = new File(dir, "a.txt")
      Files.writeString(src.toPath, "x")
      val dst = new File(dir, "no/such/dir/b.txt")
      val e = intercept[IllegalStateException](LakeFiles.move(src, dst))
      assert(e.getMessage.contains(src.getPath) &&
        e.getMessage.contains(dst.getPath))
      assert(src.isFile)
    }
  }

  test("staging throws naming the temp dir when it holds no part file") {
    withDir { dir =>
      val tmp = new File(dir, "_tmp")
      // Spark's noop sink runs the write and leaves no file at all
      val e = intercept[IllegalStateException] {
        LakeFiles.stage(frame(2), "noop", tmp, new File(dir, "x"))
      }
      assert(e.getMessage.contains(tmp.getPath))
      assert(!new File(dir, "x").exists())
    }
  }

  test("rm removes a nested tree and ignores a missing path") {
    withDir { dir =>
      val deep = Paths.get(dir.getPath, "a", "b", "c")
      Files.createDirectories(deep)
      Files.writeString(deep.resolve("f.txt"), "x")
      Files.writeString(Paths.get(dir.getPath, "a", "g.txt"), "y")
      LakeFiles.rm(new File(dir, "a"))
      assert(names(dir).isEmpty)
      LakeFiles.rm(new File(dir, "a"))
      LakeFiles.rm(new File(dir, "never/was"))
      assert(dir.isDirectory)
    }
  }

  test("jstr escapes quotes, backslashes and control characters only") {
    assert(LakeFiles.jstr("a\"b") === "\"a\\\"b\"")
    assert(LakeFiles.jstr("a\\b") === "\"a\\\\b\"")
    assert(LakeFiles.jstr("x\ny") === "\"x\\u000ay\"")
    assert(LakeFiles.jstr("\u0001") === "\"\\u0001\"")
    assert(LakeFiles.jstr("h\u00e9llo \u2713") === "\"h\u00e9llo \u2713\"")
    assert(LakeFiles.jstr("") === "\"\"")
  }

  test("uriEncode percent-encodes a relative path") {
    assert(LakeFiles.uriEncode("p=a b/part 1%.parquet") ===
      "p=a%20b/part%201%25.parquet")
  }

  test("no side effect inside assert under src/main") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root: $main")
    val effect = raw"\.(renameTo|mkdirs|delete|createNewFile)\(".r
    val sources: Seq[Path] = {
      val walk = Files.walk(main)
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size > 50)
    val bad = for {
      p <- sources
      text = Files.readString(p)
      start <- "assert\\(".r.findAllMatchIn(text).map(_.end)
      arg = balanced(text, start)
      if effect.findFirstIn(arg).isDefined
    } yield s"$p: assert(${arg.take(80)}"
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** The text from `start` up to the parenthesis that closes the one
    * just before it. */
  private def balanced(text: String, start: Int): String = {
    var depth = 1
    var i = start
    while (i < text.length && depth > 0) {
      text.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _   =>
      }
      i += 1
    }
    text.substring(start, i - 1)
  }
}
