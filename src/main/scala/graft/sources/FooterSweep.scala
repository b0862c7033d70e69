package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Per-file footer facts (top-level column names; parquet field ids)
  * over a bounded file list, read on the driver like the manifests that
  * named the files ([[org.apache.spark.sql.graft.MetaAvro]]): one
  * footer open per file, one after another, and one small tuple per
  * file kept. Files open through the Hadoop conf of the session, so
  * session-level `fs.*` settings apply here as they do to the scan.
  * Used by [[IcebergLite]] for the ORC rename guard, the name-mapping
  * and initial-default classification of parquet files, and the stored
  * field-id check of equality-delete files (reference surface:
  * thirdparty/auron-iceberg reads through the Iceberg library on the
  * driver).
  */
object FooterSweep {

  private def sweep[T](spark: SparkSession, files: Seq[String])
      (facts: (String, Configuration) => T): Map[String, T] = {
    if (files.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    files.map(f => f -> facts(f, conf)).toMap
  }

  /** Per ORC file: its top-level column names, read via orc-core
    * (`OrcFile.createReader`). */
  def orcColumns(spark: SparkSession,
                 files: Seq[String]): Map[String, Seq[String]] =
    sweep(spark, files) { (f, conf) =>
      val reader = org.apache.orc.OrcFile.createReader(
        new org.apache.hadoop.fs.Path(f),
        org.apache.orc.OrcFile.readerOptions(conf))
      try reader.getSchema.getFieldNames.asScala.toVector
      finally reader.close()
    }

  /** Per parquet file: its top-level (column name, stored field id)
    * pairs, read via parquet-hadoop (`ParquetFileReader.open`). A field
    * without a stored id maps to None — the caller decides whether
    * that means field-id resolution, name mapping, or a refusal. */
  def parquetFields(spark: SparkSession, files: Seq[String])
  : Map[String, Seq[(String, Option[Int])]] =
    sweep(spark, files) { (f, conf) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(t => t.getName -> Option(t.getId).map(_.intValue())).toVector
      finally reader.close()
    }
}
