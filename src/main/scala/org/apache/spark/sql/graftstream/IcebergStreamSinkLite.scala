package org.apache.spark.sql.graftstream

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.{IcebergLite, LakeFiles}
import graft.sources.LakeFiles.{jstr, rm}

/** Structured-Streaming SINK writing an Iceberg v2 table — completing
  * the sink trio next to [[DeltaStreamSinkLite]] and
  * [[PaimonStreamSinkLite]]. Each micro-batch becomes ONE snapshot:
  * parquet parts move into data/, a manifest records their entries,
  * the new manifest LIST re-lists every prior manifest plus the new
  * one (append-only cumulative), and a new metadata version appends
  * the snapshot and bumps version-hint.
  *
  * EXACTLY-ONCE follows the pattern Iceberg's streaming committers
  * use in the wild (e.g. Flink stores its max committed checkpoint id
  * in the snapshot SUMMARY): each snapshot's summary carries the
  * query id and batch id, and a re-delivered batch at or below the
  * max batch id committed under this query id is skipped.
  *
  * Lite scope, loud failures: Append output mode only, unpartitioned,
  * primitive column types, single writer (CREATE_NEW on the metadata
  * file surfaces concurrent commits), and SINK-OWNED tables only —
  * appending to a table this sink did not create (foreign table-uuid)
  * refuses rather than rewriting metadata it does not fully model.
  */
class IcebergStreamSinkLite extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "iceberg-sink-lite"

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    if (outputMode != OutputMode.Append()) throw new IllegalArgumentException(
      s"iceberg-sink-lite: output mode $outputMode unsupported — " +
        "append-only tables (use Append)")
    if (partitionColumns.nonEmpty) throw new IllegalArgumentException(
      "iceberg-sink-lite: partitioned writes are outside lite scope")
    new IcebergStreamSink(sqlContext,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "iceberg-sink-lite: 'path' option is required")))
  }
}

class IcebergStreamSink(sqlContext: SQLContext, tableDir: String)
    extends Sink {

  private val spark = sqlContext.sparkSession
  private val OwnedUuid = "graft-sink-iceberg"

  private implicit val fmts: Formats = DefaultFormats

  private def icebergTypeOf(dt: DataType, name: String): String = dt match {
    case BooleanType      => "boolean"
    case IntegerType      => "int"
    case LongType         => "long"
    case FloatType        => "float"
    case DoubleType       => "double"
    case DateType         => "date"
    case StringType       => "string"
    case BinaryType       => "binary"
    case TimestampNTZType => "timestamp"
    case TimestampType    => "timestamptz"
    case d: DecimalType   => s"decimal(${d.precision},${d.scale})"
    case other => throw new IllegalStateException(
      s"iceberg-sink-lite: column $name has unsupported type " +
        s"${other.simpleString} (primitive types only)")
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val appId = Option(spark.sparkContext
      .getLocalProperty("sql.streaming.queryId")).getOrElse("graft-stream")

    // (version, metadata JSON, current manifest-list rows)
    val existing = IcebergLite.current(spark, tableDir)

    existing.foreach { case (_, meta, _) =>
      val uuid = (meta \ "table-uuid").extractOpt[String].getOrElse("")
      if (uuid != OwnedUuid) throw new IllegalStateException(
        s"iceberg-sink-lite: $tableDir was not created by this sink " +
          s"(table-uuid '$uuid') — appending to foreign Iceberg tables " +
          "is outside lite scope")
      // exactly-once: max batch id already committed under this query
      val committed = (meta \ "snapshots") match {
        case JArray(ss) => ss.flatMap { s =>
          val sum = s \ "summary"
          if ((sum \ "graft-app-id").extractOpt[String].contains(appId))
            (sum \ "graft-batch-id").extractOpt[String].map(_.toLong)
          else None
        }
        case _ => Nil
      }
      if (committed.nonEmpty && batchId <= committed.max)
        return // re-delivered batch: already committed
      // schema drift check against the stored schema field list
      val want = IcebergLite.snapshot(spark, tableDir)
        .schema.map(f => (f.name, f.dataType))
      val got = data.schema.map(f => (f.name, f.dataType))
      if (want != got) throw new IllegalStateException(
        s"iceberg-sink-lite: batch schema ${got.mkString(",")} drifts " +
          s"from the table's ${want.mkString(",")} — schema evolution " +
          "is outside lite scope")
    }

    for (d <- Seq("metadata", "data"))
      Files.createDirectories(Paths.get(tableDir, d))

    // executors write the batch; driver moves O(part files)
    val ds = data.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val batchDf = org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
    val tmp = s"$tableDir/_tmp_batch"
    // stamp the schema's field ids (i+1, matching the metadata JSON
    // below) so the written parquet carries the spec's column
    // identity — IcebergLite resolves columns by field id
    val idMap = data.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap
    IcebergLite.stampFieldIds(batchDf, idMap)
      .write.mode("overwrite").parquet(tmp)
    val parts = new java.io.File(tmp).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("."))
    val rels = parts.zipWithIndex.map { case (f, i) =>
      val rel = s"data/b${batchId}_$i.parquet"
      LakeFiles.move(f, new java.io.File(s"$tableDir/$rel"))
      rel
    }
    rm(new java.io.File(tmp))

    val newVersion = existing.map(_._1 + 1).getOrElse(1L)
    val newSnapId = newVersion
    val files = LakeFiles.Local(tableDir)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, struct}
    files.avro(rels.toDF("_fp")
      .select(lit(1).as("status"),
        struct(col("_fp").as("file_path"), lit(0).as("content"))
          .as("data_file")),
      s"metadata/m-sink-$newSnapId.avro")
    // cumulative manifest list: previous list's rows + the new manifest
    val allManifests = existing.toSeq.flatMap(_._3) :+
      (s"metadata/m-sink-$newSnapId.avro", 0)
    files.avro(allManifests.toDF("manifest_path", "content"),
      s"metadata/snap-$newSnapId.avro")

    val fields = data.schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":${jstr(f.name)},"required":false,"type":${
        jstr(icebergTypeOf(f.dataType, f.name))}}"""
    }.mkString("[", ",", "]")
    val newSnapJson =
      s"""{"snapshot-id":$newSnapId,"manifest-list":${jstr(
        s"metadata/snap-$newSnapId.avro")},"summary":{"operation":"append","graft-app-id":${jstr(appId)},"graft-batch-id":${jstr(batchId.toString)}}}"""
    val prevSnapsJson = existing match {
      case Some((_, meta, _)) => (meta \ "snapshots") match {
        case JArray(ss) => ss.map(s => JsonMethods.compact(
          JsonMethods.render(s)))
        case _ => Nil
      }
      case None => Nil
    }
    val snaps = (prevSnapsJson :+ newSnapJson).mkString("[", ",\n", "]")
    val metaJson =
      s"""{"format-version":2,"table-uuid":${jstr(OwnedUuid)},"location":${jstr(tableDir)},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
         |"current-snapshot-id":$newSnapId,
         |"snapshots":$snaps}""".stripMargin
    // atomic publication (concurrent offset polls read these files); a
    // concurrent writer landing the same version fails loudly
    IcebergLite.publish(new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf()), tableDir,
      newVersion, metaJson)
  }

  override def name(): String = s"IcebergStreamSinkLite[$tableDir]"
  override def schema(): StructType = new StructType()
  override def toString: String = name()
}
