package org.apache.spark.sql.graftstream

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.sources.{LakeFiles, PaimonLite}
import graft.sources.LakeFiles.{jstr, rm}

/** Structured-Streaming SINK writing an append-only Paimon table —
  * the write half of the Paimon streaming leg next to
  * [[PaimonStreamLite]]. Each micro-batch becomes ONE snapshot: the
  * batch's parquet parts move into bucket-0, a manifest records their
  * ADD entries, the new snapshot's BASE manifest list re-lists the
  * previous snapshot's coverage and its DELTA list names just the new
  * manifest.
  *
  * EXACTLY-ONCE rides Paimon's OWN mechanism: every snapshot carries
  * `commitUser` (here the streaming query id) and a monotonically
  * increasing `commitIdentifier` (here the batch id). A re-delivered
  * batch whose id is ≤ the max identifier already committed under
  * this user is skipped — the same dedup the format's native
  * committers perform on recovery.
  *
  * Lite scope, loud failures: Append output mode only, unpartitioned,
  * single writer (CREATE_NEW on the snapshot file turns a concurrent
  * commit into a loud violation), primitive column types only, and a
  * batch whose schema drifts from schema-0 refuses.
  */
class PaimonStreamSinkLite extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "paimon-sink-lite"

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    if (outputMode != OutputMode.Append()) throw new IllegalArgumentException(
      s"paimon-sink-lite: output mode $outputMode unsupported — " +
        "append-only tables (use Append)")
    if (partitionColumns.nonEmpty) throw new IllegalArgumentException(
      "paimon-sink-lite: partitioned writes are outside lite scope")
    new PaimonStreamSink(sqlContext,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "paimon-sink-lite: 'path' option is required")))
  }
}

class PaimonStreamSink(sqlContext: SQLContext, tableDir: String)
    extends Sink {

  private val spark = sqlContext.sparkSession

  /** Our user's max committed identifier — found once by scanning the
    * history BACKWARD from latest (identifiers are monotonic per user,
    * and in single-writer scope our newest commit is the table's
    * newest, so the scan stops immediately in steady state; an expired
    * older snapshot ends the scan instead of wedging the stream), then
    * tracked in-instance. */
  private var cachedIdent: Option[Long] = None

  private def paimonTypeOf(dt: DataType, name: String): String = dt match {
    case BooleanType      => "BOOLEAN"
    case ByteType         => "TINYINT"
    case ShortType        => "SMALLINT"
    case IntegerType      => "INT"
    case LongType         => "BIGINT"
    case FloatType        => "FLOAT"
    case DoubleType       => "DOUBLE"
    case DateType         => "DATE"
    case StringType       => "STRING"
    case BinaryType       => "BYTES"
    case TimestampNTZType => "TIMESTAMP(6)"
    case TimestampType    => "TIMESTAMP(6) WITH LOCAL TIME ZONE"
    case d: DecimalType   => s"DECIMAL(${d.precision},${d.scale})"
    case other => throw new IllegalStateException(
      s"paimon-sink-lite: column $name has unsupported type " +
        s"${other.simpleString} (primitive types only)")
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val appId = Option(spark.sparkContext
      .getLocalProperty("sql.streaming.queryId")).getOrElse("graft-stream")

    val snapDir = new java.io.File(s"$tableDir/snapshot")
    val hasSnapshots = snapDir.isDirectory &&
      Option(snapDir.listFiles()).exists(
        _.exists(_.getName.matches("snapshot-\\d+")))

    if (hasSnapshots && cachedIdent.isEmpty) {
      val latest = PaimonLite.latestSnapshotId(spark, tableDir)
      // Paimon's dedup: newest identifier committed by this user,
      // scanning backward and stopping at the first hit or at expired
      // history
      var id = latest
      while (cachedIdent.isEmpty && id >= 1) {
        try {
          val (user, ident) = PaimonLite.commitInfo(spark, tableDir, id)
          if (user == appId) cachedIdent = Some(ident)
        } catch {
          case _: IllegalStateException => id = 0 // expired: stop
        }
        id -= 1
      }
    }
    if (cachedIdent.exists(batchId <= _))
      return // re-delivered batch: already committed

    for (d <- Seq("snapshot", "schema", "manifest", "bucket-0"))
      Files.createDirectories(Paths.get(tableDir, d))

    // schema-0: written on first commit, enforced afterwards
    val schemaFile = Paths.get(tableDir, "schema", "schema-0")
    if (!Files.exists(schemaFile)) {
      val fields = data.schema.fields.zipWithIndex.map { case (f, i) =>
        s"""{"id":$i,"name":${jstr(f.name)},"type":${jstr(paimonTypeOf(
          f.dataType, f.name))}}"""
      }.mkString("[", ",", "]")
      graft.sources.AtomicFiles.write(schemaFile,
        s"""{"id":0,"fields":$fields,
           |"highestFieldId":${data.schema.length - 1},
           |"partitionKeys":[],"primaryKeys":[],
           |"options":{"file.format":"parquet"}}""".stripMargin)
    } else if (hasSnapshots) {
      val want = PaimonLite.snapshot(spark, tableDir).schema
        .map(f => (f.name, f.dataType))
      val got = data.schema.map(f => (f.name, f.dataType))
      if (want != got) throw new IllegalStateException(
        s"paimon-sink-lite: batch schema ${got.mkString(",")} drifts " +
          s"from the table's ${want.mkString(",")} — schema evolution " +
          "is outside lite scope")
    }

    // executors write the batch; driver moves O(part files)
    val ds = data.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val batchDf = org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
    val tmp = s"$tableDir/_tmp_batch"
    batchDf.write.mode("overwrite").parquet(tmp)
    val parts = new java.io.File(tmp).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("."))
    val names = parts.zipWithIndex.map { case (f, i) =>
      val name = s"data-b${batchId}_$i.parquet"
      LakeFiles.move(f, new java.io.File(s"$tableDir/bucket-0/$name"))
      name
    }
    rm(new java.io.File(tmp))

    val newId =
      if (hasSnapshots) PaimonLite.latestSnapshotId(spark, tableDir) + 1
      else 1L
    val files = LakeFiles.Local(tableDir)
    import spark.implicits._
    files.avro(
      names.toDF("_fn")
        .select(org.apache.spark.sql.functions.lit(0).as("_KIND"),
          org.apache.spark.sql.functions.lit(0).as("_BUCKET"),
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("_fn").as("_FILE_NAME"))
            .as("_FILE")),
      s"manifest/m-sink-$newId.avro")
    // base = everything the previous snapshot covered; delta = new
    val baseNames =
      if (hasSnapshots) PaimonLite.manifestNames(spark, tableDir, newId - 1)
      else Nil
    def mlist(rel: String, ns: Seq[String]): Unit =
      files.avro(
        if (ns.isEmpty) Seq.empty[String].toDF("_FILE_NAME")
        else ns.toDF("_FILE_NAME"), rel)
    mlist(s"manifest/ml-base-$newId.avro", baseNames)
    mlist(s"manifest/ml-delta-$newId.avro", Seq(s"m-sink-$newId.avro"))

    val snapJson =
      s"""{"version":3,"id":$newId,"schemaId":0,
         |"baseManifestList":"ml-base-$newId.avro",
         |"deltaManifestList":"ml-delta-$newId.avro",
         |"commitKind":"APPEND","commitUser":"$appId",
         |"commitIdentifier":$batchId,"timeMillis":0}""".stripMargin
    // atomic publication (concurrent offset polls read these files); a
    // concurrent writer landing the same id fails loudly
    PaimonLite.publish(new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf()), tableDir, newId,
      snapJson)
    cachedIdent = Some(batchId)
  }

  override def name(): String = s"PaimonStreamSinkLite[$tableDir]"
  override def schema(): StructType = new StructType()
  override def toString: String = name()
}
