package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.avro.{AvroDeserializer, AvroOptions, SchemaConverters}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, NoopFilters}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.types.StructType

/** Driver-side reader for the small Avro METADATA files of the lakehouse
  * readers: Iceberg manifest lists and manifests, Paimon manifest lists,
  * manifests and index manifests. Each is KBs and read whole on the
  * driver anyway, so a `spark.read.format("avro").load(p).collect()`
  * spends a file listing, a schema inference, a planning pass and a Spark
  * job on a few hundred bytes. This opens the file directly with avro's
  * `DataFileReader` instead.
  *
  * The result is what that scan would have returned: the schema comes
  * from Spark's own `SchemaConverters` (made nullable, as a file-source
  * relation's is) and each record goes through Spark's own
  * `AvroDeserializer` under the session's Avro read options, so column
  * names, types and values are unchanged. Files open through the Hadoop
  * `FileSystem` of the session's Hadoop conf, so every path scheme the
  * scan accepted still resolves. A missing, unreadable or truncated file
  * throws with the path in the message. */
object MetaAvro {

  /** One metadata file: its Catalyst schema and every record as a
    * schema-carrying `Row` (nested structs too, as `collect()` gives). */
  final case class File(schema: StructType, rows: Array[Row]) {
    def columns: Array[String] = schema.fieldNames
  }

  def read(spark: SparkSession, path: String): File = {
    val conf = spark.sessionState.newHadoopConf()
    val opts = new AvroOptions(Map.empty[String, String], conf)
    val in =
      try new FsInput(new Path(path), conf)
      catch { case NonFatal(e) => throw failure(path, e) }
    try {
      val reader = new DataFileReader[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      val avroSchema = reader.getSchema
      val schema = SchemaConverters.toSqlType(avroSchema,
        opts.useStableIdForUnionType, opts.stableIdPrefixForUnionType,
        opts.recursiveFieldMaxDepth).dataType match {
        case st: StructType => st.asNullable
        case other => throw new IllegalStateException(
          s"the Avro schema is not a record (${other.sql})")
      }
      val rebase = DataSourceUtils.datetimeRebaseSpec(
        reader.getMetaString,
        opts.datetimeRebaseModeInRead)
      val deser = new AvroDeserializer(avroSchema, schema,
        opts.positionalFieldMatching, rebase, new NoopFilters,
        opts.useStableIdForUnionType, opts.stableIdPrefixForUnionType,
        opts.recursiveFieldMaxDepth)
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val rows = Array.newBuilder[Row]
      while (reader.hasNext) {
        // the deserializer reuses one mutable row; the converter copies
        // it out into a fresh Row before the next record overwrites it
        deser.deserialize(reader.next()).foreach { r =>
          rows += toRow(r.asInstanceOf[InternalRow]).asInstanceOf[Row]
        }
      }
      // avro's reader takes an EOF inside a block for the end of the
      // file; a whole file ends exactly where its last block does
      if (reader.previousSync() != in.length())
        throw new IllegalStateException(s"the file is truncated: its " +
          s"last whole block ends at byte ${reader.previousSync()} of " +
          in.length())
      File(schema, rows.result())
    } catch { case NonFatal(e) => throw failure(path, e) }
    finally in.close()
  }

  private def failure(path: String, e: Throwable) =
    new IllegalStateException(
      s"$path: cannot read Avro metadata file: ${e.getMessage}", e)
}
