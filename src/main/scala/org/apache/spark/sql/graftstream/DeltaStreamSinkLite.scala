package org.apache.spark.sql.graftstream

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.{DeltaLogLite, LakeFiles}
import graft.sources.LakeFiles.{jstr, rm}

/** Structured-Streaming SINK writing a Delta-layout table — the write
  * half of the lakehouse streaming loop next to [[DeltaStreamLite]].
  * Each micro-batch becomes ONE Delta commit: the batch's parquet
  * part files move into the table and a JSON commit, published through
  * [[DeltaLogLite.publish]], records their `add` actions (with each
  * file's real byte size) plus a `txn` action `{appId = streaming query
  * id, version = batchId}` (PROTOCOL.md "Transaction Identifiers").
  * Each batch walks the log once ([[DeltaLogLite.head]]): the same walk
  * answers the dedup lookup and the snapshot the commit builds on.
  *
  * EXACTLY-ONCE: after a restart the engine re-delivers the last
  * uncommitted-to-the-sink batch; addBatch consults the log's latest
  * txn version for this query id and SKIPS any batchId at or below it
  * — the same dedup contract the reference-adjacent open-source Delta
  * sink implements. At scale the per-batch driver work is O(part
  * files) renames + one JSON append; the data write itself is the
  * executors' parquet job.
  *
  * Lite scope, loud failures: Append output mode only (the table is
  * append-only), unpartitioned tables, a single writer (no optimistic
  * concurrency loop), and a batch whose schema drifts from the
  * table's metaData refuses rather than corrupting the log.
  */
class DeltaStreamSinkLite extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "delta-sink-lite"

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    if (outputMode != OutputMode.Append()) throw new IllegalArgumentException(
      s"delta-sink-lite: output mode $outputMode unsupported — the log " +
        "is append-only (use Append)")
    if (partitionColumns.nonEmpty) throw new IllegalArgumentException(
      "delta-sink-lite: partitioned writes are outside lite scope")
    new DeltaStreamSink(sqlContext,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "delta-sink-lite: 'path' option is required")),
      parameters.get("checkpointInterval").map(_.toInt).getOrElse(0))
  }
}

class DeltaStreamSink(sqlContext: SQLContext, tableDir: String,
                      checkpointInterval: Int = 0)
    extends Sink {

  private val spark = sqlContext.sparkSession
  private lazy val fs = new org.apache.hadoop.fs.Path(tableDir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** Our appId's max committed batch id — looked up from the log once,
    * then tracked in-instance (single-writer scope): without the cache
    * every addBatch re-parses all commit JSONs plus the checkpoint. */
  private var cachedTxn: Option[Long] = None

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the engine sets the query id as a local property on the driver
    val appId = Option(spark.sparkContext
      .getLocalProperty("sql.streaming.queryId")).getOrElse("graft-stream")
    // ONE walk of the log per batch serves the dedup lookup and the
    // snapshot this commit builds on (None before the first commit; a
    // malformed log fails loudly, never overwritten as if empty)
    val log = DeltaLogLite.head(spark, tableDir)
    if (cachedTxn.isEmpty) cachedTxn = log.txnVersions.get(appId)
    if (cachedTxn.exists(batchId <= _))
      return // re-delivered batch after restart: already committed

    Files.createDirectories(Paths.get(tableDir, "_delta_log"))
    Files.createDirectories(Paths.get(tableDir, "data"))
    val existing = log.snapshot
    existing.foreach { snap =>
      val want = snap.schema.map(f => (f.name, f.dataType))
      val got = data.schema.map(f => (f.name, f.dataType))
      if (want != got) throw new IllegalStateException(
        s"delta-sink-lite: batch schema ${got.mkString(",")} drifts from " +
          s"the table's ${want.mkString(",")} — schema evolution is " +
          "outside lite scope")
    }

    // executors write the batch; the driver then moves O(part files).
    // The engine hands addBatch a STREAMING-flagged frame on which
    // .write is refused — rebase it onto a batch LogicalRDD first
    // (the inverse of the source-side asStreamingBatch convention).
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
    // each add records the file's real byte length: external readers
    // plan on `size`
    val adds = parts.zipWithIndex.map { case (f, i) =>
      val rel = s"data/b${batchId}_$i.parquet"
      val size = f.length()
      LakeFiles.move(f, new java.io.File(s"$tableDir/$rel"))
      DeltaLogLite.addLine(rel, Map.empty, size, dataChange = true)
    }
    rm(new java.io.File(tmp))

    val version = existing.map(_.version + 1).getOrElse(0L)
    val head = if (existing.nonEmpty) Nil else Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"graft-sink","format":{"provider":"parquet","options":{}},"schemaString":${jstr(data.schema.json)},"partitionColumns":[],"configuration":{},"createdTime":0}}""")
    val txn =
      s"""{"txn":{"appId":${jstr(appId)},"version":$batchId,"lastUpdated":0}}"""
    // the library's one commit point: atomic (a concurrent offset poll
    // never reads a half-written commit) and create-new (a concurrent
    // writer landing the same version is a loud single-writer violation)
    DeltaLogLite.publish(fs, tableDir, version, head ++ (txn +: adds))
    cachedTxn = Some(batchId)
    if (checkpointInterval > 0 && version > 0 &&
      version % checkpointInterval == 0) writeCheckpoint(version)
  }

  /** LOG COMPACTION (PROTOCOL.md "Checkpoints"): materialize the
    * version-`v` snapshot — metaData, protocol, every live add with its
    * real byte size, and EVERY appId's latest txn (dropping txns would
    * silently break exactly-once after a vacuum) — as
    * `v.checkpoint.parquet` in the struct-column layout DeltaLogLite's
    * checkpoint reader reads, then point `_last_checkpoint` at it.
    * Pre-checkpoint JSON commits can then be vacuumed without breaking
    * batch reads, streaming restart dedup, or latestVersion
    * resolution. */
  private def writeCheckpoint(v: Long): Unit = {
    import org.apache.spark.sql.functions.{array, col, lit, map, struct, typedLit}
    import spark.implicits._
    val log = DeltaLogLite.head(spark, tableDir)
    val snap = log.snapshot.get
    require(snap.version == v,
      s"delta-sink-lite: checkpoint of $v but snapshot is ${snap.version}")
    // carry the full add-entry field set PROTOCOL.md requires of
    // checkpoints (size/modificationTime/dataChange) so an external
    // Delta reader can consume the compacted log too
    val addDf = snap.files.map(f => (f.path, f.partitionValues,
        fs.getFileStatus(new org.apache.hadoop.fs.Path(
          DeltaLogLite.resolveAddPath(tableDir, f.path))).getLen))
      .toDF("path", "partitionValues", "size")
      .select(struct(col("path"), col("partitionValues"), col("size"),
        lit(0L).as("modificationTime"),
        lit(true).as("dataChange")).as("add"))
    val metaDf = spark.range(1).select(struct(
      lit(snap.schema.json).as("schemaString"),
      typedLit(snap.partitionColumns).as("partitionColumns"),
      map().cast("map<string,string>").as("configuration"))
      .as("metaData"))
    val protoDf = spark.range(1).select(struct(
      lit(1).as("minReaderVersion"), lit(2).as("minWriterVersion"),
      array().cast("array<string>").as("readerFeatures")).as("protocol"))
    val txns = log.txnVersions.toSeq
    val txnDf = txns.toDF("appId", "version")
      .select(struct(col("appId"), col("version")).as("txn"))
    val all = Seq(addDf, metaDf, protoDf, txnDf)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    LakeFiles.stage(all, "parquet", new java.io.File(s"$tableDir/_tmp_ckpt"),
      new java.io.File(
        s"$tableDir/_delta_log/" + f"$v%020d.checkpoint.parquet"))
    graft.sources.AtomicFiles.write(
      Paths.get(tableDir, "_delta_log", "_last_checkpoint"),
      s"""{"version":$v,"size":${snap.files.length + 2 + txns.length}}""")
  }

  override def name(): String = s"DeltaStreamSinkLite[$tableDir]"
  override def schema(): org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
  override def toString: String = name()
}
