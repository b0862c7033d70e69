package org.apache.spark.sql.graftstream

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.sources.{HudiCowLite, LakeFiles}
import graft.sources.LakeFiles.{jstr, rm}

/** Structured-Streaming SINK writing an append-only Hudi
  * COPY_ON_WRITE table — the write half of the Hudi streaming leg
  * next to [[HudiStreamLite]], closing the four-format sink matrix.
  * Each micro-batch becomes ONE commit: the batch's parquet parts
  * land as NEW file groups (never rewriting an existing group — the
  * append-only contract the source's dropped-files gate enforces),
  * and the commit's `partitionToWriteStats` names them under the
  * empty partition path (unpartitioned scope).
  *
  * EXACTLY-ONCE rides the same surface Hudi's own streaming ingest
  * uses: commit `extraMetadata`. Hudi Streamer records its resume
  * checkpoint there (the documented `deltastreamer.checkpoint.key`
  * pattern); this sink records the streaming query id and batch id,
  * and a re-delivered batch whose id is ≤ the newest id committed
  * under this query is skipped on recovery.
  *
  * Lite scope, loud failures: Append output mode only, unpartitioned,
  * single writer (CREATE_NEW on the commit file turns a concurrent
  * commit into a loud violation), and a batch whose schema drifts
  * from the table's parquet footers refuses.
  */
class HudiStreamSinkLite extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "hudi-sink-lite"

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    if (outputMode != OutputMode.Append()) throw new IllegalArgumentException(
      s"hudi-sink-lite: output mode $outputMode unsupported — " +
        "append-only tables (use Append)")
    if (partitionColumns.nonEmpty) throw new IllegalArgumentException(
      "hudi-sink-lite: partitioned writes are outside lite scope")
    new HudiStreamSink(sqlContext,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "hudi-sink-lite: 'path' option is required")))
  }
}

class HudiStreamSink(sqlContext: SQLContext, tableDir: String)
    extends Sink {

  private val spark = sqlContext.sparkSession

  /** Newest batch id committed by this query — found once by scanning
    * the timeline BACKWARD (in single-writer scope our newest commit
    * is the table's newest, so the scan stops immediately in steady
    * state), then tracked in-instance. */
  private var cachedBatch: Option[Long] = None

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val appId = Option(spark.sparkContext
      .getLocalProperty("sql.streaming.queryId")).getOrElse("graft-stream")

    val hoodie = new java.io.File(s"$tableDir/.hoodie")
    val hasCommits = hoodie.isDirectory &&
      Option(hoodie.listFiles()).exists(
        _.exists(_.getName.matches("\\d+\\.commit")))

    if (hasCommits && cachedBatch.isEmpty) {
      val commits = HudiCowLite.completedCommits(spark, tableDir)
      cachedBatch = commits.reverseIterator.map { inst =>
        val meta = HudiCowLite.extraMetadata(spark, tableDir, inst)
        if (meta.get("graft.streaming.queryId").contains(appId))
          meta.get("graft.streaming.batchId").map(_.toLong)
        else None
      }.collectFirst { case Some(b) => b }
    }
    if (cachedBatch.exists(batchId <= _))
      return // re-delivered batch: already committed

    Files.createDirectories(Paths.get(tableDir, ".hoodie"))
    val props = Paths.get(tableDir, ".hoodie", "hoodie.properties")
    if (!Files.exists(props))
      graft.sources.AtomicFiles.write(props,
        "hoodie.table.name=graft_sink\n" +
          "hoodie.table.type=COPY_ON_WRITE\n")

    if (hasCommits) {
      val want = HudiCowLite.read(spark, tableDir).schema
        .map(f => (f.name, f.dataType))
      val got = data.schema.map(f => (f.name, f.dataType))
      if (want != got) throw new IllegalStateException(
        s"hudi-sink-lite: batch schema ${got.mkString(",")} drifts " +
          s"from the table's ${want.mkString(",")} — schema evolution " +
          "is outside lite scope")
    }

    val instant =
      if (hasCommits)
        (BigInt(HudiCowLite.completedCommits(spark, tableDir).last) + 1)
          .toString
      else "1"

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
    // every batch lands as NEW file groups — never a rewrite of an
    // existing group's base file (the append-only sink contract)
    val stats = parts.zipWithIndex.map { case (f, i) =>
      val fileId = s"s$batchId-$i"
      val rel = s"${fileId}_0-0_$instant.parquet"
      LakeFiles.move(f, new java.io.File(s"$tableDir/$rel"))
      s"""{"fileId":${jstr(fileId)},"path":${jstr(rel)},"numWrites":1}"""
    }
    rm(new java.io.File(tmp))

    val commitJson =
      s"""{"partitionToWriteStats":{"":[${stats.mkString(",")}]},
         |"extraMetadata":{
         | "graft.streaming.queryId":${jstr(appId)},
         | "graft.streaming.batchId":${jstr(batchId.toString)}}}"""
        .stripMargin
    // atomic publication (concurrent timeline polls read this file);
    // replace=false turns a concurrent writer landing the same
    // instant into a loud single-writer violation
    try graft.sources.AtomicFiles.write(
      Paths.get(tableDir, ".hoodie", s"$instant.commit"), commitJson,
      replace = false)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"hudi-sink-lite: instant $instant already exists in " +
            s"$tableDir — another writer is active (single-writer scope)")
    }
    cachedBatch = Some(batchId)
  }

  override def name(): String = s"HudiStreamSinkLite[$tableDir]"
  override def schema(): StructType = new StructType()
  override def toString: String = name()
}
