package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Read-only Apache Hudi MERGE_ON_READ **SNAPSHOT** reader — the
  * query mode [[HudiCowLite]] refuses (it serves MOR read-optimized
  * only), implemented from the PUBLIC HoodieLogFormat layout
  * (hudi.apache.org + org.apache.hudi.common.table.log.HoodieLogFormat
  * / HoodieLogFormatWriter):
  *
  * TIMELINE → FILE SLICES: the `.hoodie` timeline replays like the COW
  * reader, but each (partition, fileId) group tracks its current BASE
  * file (columnar write — a deltacommit's new-group insert or a
  * compaction's `<t>.commit` rewrite, which STARTS A NEW SLICE and
  * absorbs earlier logs) plus the ordered LOG files appended to that
  * slice by later deltacommits.
  *
  * LOG FILE LAYOUT (per block, as HoodieLogFormatWriter writes it):
  * [6-byte magic "#HUDI#"] [8-byte block length excluding magic]
  * [4-byte log-format version (1)] [4-byte block-type ordinal]
  * [header map: 4-byte count, then per entry 4-byte key ordinal +
  * 4-byte length + UTF-8 value] [8-byte content length] [content]
  * [footer map, same layout] [8-byte total block size]. All integers
  * big-endian (DataOutputStream). The SCHEMA header (ordinal 2)
  * carries the block's Avro schema JSON.
  *
  * AVRO_DATA_BLOCK content: [4-byte format version] [4-byte record
  * count] then per record [4-byte length][binary-Avro record]. Upserts
  * AND deletes ride these blocks — a record whose
  * `_hoodie_is_deleted` field is true is Hudi's soft delete.
  *
  * DELETE_BLOCK content (what a Spark-SQL `DELETE FROM` on a MOR
  * table writes — HoodieDeleteBlock): [4-byte content version]
  * [4-byte payload length] [payload]. Version 3 — the CURRENT
  * serialization — is the binary-Avro `HoodieDeleteRecordList`
  * record (hudi-common/src/main/avro/HoodieDeleteRecordList.avsc:
  * an array of (recordKey, partitionPath, orderingVal) records);
  * versions 1/2 (Kryo-serialized HoodieKey[]/DeleteRecord[]) refuse
  * BY VERSION.
  *
  * EVENT-TIME MERGE (`hoodie.table.precombine.field` in
  * hoodie.properties — the default shape of a CDC-style Hudi
  * pipeline): when declared, merge order becomes (precombine value,
  * arrival) with ties going to the incoming record — the published
  * DefaultHoodieRecordPayload semantics — applied log-vs-log and
  * base-vs-log (a lower-ordering late arrival loses to the stored
  * row). DELETE_BLOCK records must then carry a matching non-trivial
  * orderingVal (a null/0 "natural order" delete wins at arrival
  * regardless of event time — not foldable into one monotonic
  * aggregate, refused loudly); soft deletes carry the precombine
  * column like any record. WITHOUT a precombine field, merge order is
  * commit/arrival order and a non-trivial delete orderingVal refuses.
  *
  * COMMAND_BLOCK (HoodieCommandBlock — what a ROLLBACK of a failed
  * MOR write appends): type ROLLBACK_PREVIOUS_BLOCK invalidates every
  * earlier block in the slice's log stream whose INSTANT_TIME header
  * equals the command's TARGET_INSTANT_TIME header (the published
  * AbstractHoodieLogRecordReader semantics), across log-file
  * boundaries. Unknown command types, rollbacks without a target, and
  * rollbacks over blocks lacking INSTANT_TIME refuse loudly.
  * HFILE/PARQUET/CDC/CORRUPT blocks refuse loudly.
  *
  * MERGE, Spark-first: base files are ONE native vectorized scan; log
  * files decode EXECUTOR-SIDE (a flatMap over the slice list — log
  * volume never lands on the driver); the winning log record per
  * (partition, `_hoodie_record_key`) is a partial-combining max_by
  * over the (instant, log version, block index, record index) order,
  * exactly one shuffle on the key; winners that are deletes (hard
  * DELETE_BLOCK keys or `_hoodie_is_deleted` soft deletes — the SAME
  * ordered stream, so a key re-inserted after its delete survives)
  * drop the key, the rest REPLACE base rows through a LEFT ANTI join
  * (log side broadcast when small) + union. No window, no driver
  * loops. Hudi's DEFAULT index is non-global — record keys are only
  * unique PER PARTITION — so the merge keys on (partition path,
  * record key): each log record joins the slice's partition, and
  * base rows bring `_hoodie_partition_path`; a MULTI-partition table
  * whose base files lack that meta column refuses rather than risk
  * cross-partition key collisions silently mis-patching rows.
  *
  * Lite scope, loud failures (never silent wrong answers): table type
  * must be MERGE_ON_READ; magic / log-format version / block-type /
  * length mismatches, a log without its base file, a base file
  * without `_hoodie_record_key`, non-record or nested Avro schemas,
  * Avro fields absent from the base schema, and a log record claiming
  * a DIFFERENT partition than its slice all refuse with the path
  * named.
  */
object HudiMorLite {

  private implicit val fmts: Formats = DefaultFormats

  private val Magic: Array[Byte] = "#HUDI#".getBytes("UTF-8")
  // HoodieLogBlock.HeaderMetadataType ordinals (public enum)
  private val InstantTimeHeaderOrdinal = 0
  private val TargetInstantHeaderOrdinal = 1
  private val SchemaHeaderOrdinal = 2
  private val CommandTypeHeaderOrdinal = 3
  private val BlockTypeNames = Seq("COMMAND_BLOCK", "DELETE_BLOCK",
    "CORRUPT_BLOCK", "AVRO_DATA_BLOCK", "HFILE_DATA_BLOCK",
    "PARQUET_DATA_BLOCK", "CDC_DATA_BLOCK")
  private val CommandBlockOrdinal = 0
  private val DeleteBlockOrdinal = 1
  private val AvroDataBlockOrdinal = 3
  private val ParquetDataBlockOrdinal = 5
  private[graft] val CdcDataBlockOrdinal = 6

  /** The debezium-style CDC record schema (RFC-51 / HoodieCDCUtils,
    * supplemental logging mode `data_before_after` — the richest
    * published mode): `op` is i/u/d, `before`/`after` are the row
    * images as JSON strings (null on the side an op lacks). */
  private[graft] val CdcSchema: String =
    """{"type":"record","name":"HoodieCdcRecord","fields":[
      | {"name":"op","type":["null","string"],"default":null},
      | {"name":"ts_ms","type":["null","string"],"default":null},
      | {"name":"before","type":["null","string"],"default":null},
      | {"name":"after","type":["null","string"],"default":null}]}"""
      .stripMargin
  // HoodieCommandBlockTypeEnum: ROLLBACK_BLOCK is the only published
  // command type, ordinal 0
  private val RollbackCommandType = "0"

  /** The published `HoodieDeleteRecordList` Avro schema (hudi-common/
    * src/main/avro/HoodieDeleteRecordList.avsc) — the version-3
    * HoodieDeleteBlock payload a Spark-SQL DELETE on a MOR table
    * writes. */
  private[graft] val DeleteRecordListSchema: String =
    """{"type":"record","name":"HoodieDeleteRecordList",
      |"namespace":"org.apache.hudi.avro.model","fields":[
      | {"name":"deleteRecordList","type":{"type":"array","items":
      |  {"type":"record","name":"HoodieDeleteRecord","fields":[
      |   {"name":"recordKey","type":["null","string"],"default":null},
      |   {"name":"partitionPath","type":["null","string"],
      |    "default":null},
      |   {"name":"orderingVal","type":["null","boolean","int","long",
      |    "float","double","bytes","string"],"default":null}
      |]}}}]}""".stripMargin
  private val CurrentDeleteBlockVersion = 3

  /** One log file of a slice: path + the (instant, version) order key
    * — instants zero-padded so string ordering is numeric ordering. */
  final case class LogFile(path: String, instant: String, version: Int)

  /** One file group's current slice: the base columnar file and the
    * ordered log files appended to it. */
  final case class FileSlice(partition: String, fileId: String,
                             baseInstant: String, basePath: String,
                             logs: Seq[LogFile])

  final case class MorSnapshot(instant: String, slices: Seq[FileSlice],
                               precombineField: Option[String] = None,
                               commits: Seq[String] = Nil)

  /** Log file name "`.<fileId>_<baseInstant>.log.<version>[_<token>]`"
    * → (fileId, baseInstant, version); anything else refuses. */
  private[graft] def parseLogName(name: String): (String, String, Int) = {
    val re = "^\\.(.+)_(\\d+)\\.log\\.(\\d+)(_.*)?$".r
    name match {
      case re(fileId, base, v, _) => (fileId, base, v.toInt)
      case _ => throw new IllegalStateException(
        s"HudiMorLite: '$name' is not a Hudi log file name " +
          "(.<fileId>_<baseInstant>.log.<version>)")
    }
  }

  /** Replay the timeline up to `asOfInstant` into file slices. */
  def snapshot(spark: SparkSession, tableDir: String,
               asOfInstant: Option[String] = None): MorSnapshot = {
    val hoodieDir = new Path(tableDir, ".hoodie")
    val fs = hoodieDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hoodieDir))
      throw new IllegalStateException(s"$tableDir has no .hoodie directory")
    val props = new Path(hoodieDir, "hoodie.properties")
    val propLines: Seq[String] =
      if (!fs.exists(props)) Nil
      else LakeFiles.readText(fs, props).linesIterator.map(_.trim).toSeq
    def prop(key: String): Option[String] = propLines
      .find(_.startsWith(s"$key="))
      .map(_.split("=", 2)(1).trim).filter(_.nonEmpty)
    val tableType = prop("hoodie.table.type")
    // the precombine (event-time ordering) field, as hoodie.properties
    // publishes it — when set, the merge orders by it before arrival
    val precombine = prop("hoodie.table.precombine.field")
    if (!tableType.contains("MERGE_ON_READ"))
      throw new IllegalStateException(
        s"$tableDir: hoodie.table.type=${tableType.getOrElse("<absent>")}" +
          " — HudiMorLite serves MERGE_ON_READ snapshot queries " +
          "(COPY_ON_WRITE reads through HudiCowLite)")

    val names = fs.listStatus(hoodieDir).toSeq.map(_.getPath.getName)
    val commits: Seq[(String, String)] = names.collect {
      case n if n.matches("\\d+\\.commit") =>
        (n.stripSuffix(".commit"), "commit")
      case n if n.matches("\\d+\\.replacecommit") =>
        (n.stripSuffix(".replacecommit"), "replacecommit")
      case n if n.matches("\\d+\\.deltacommit") =>
        (n.stripSuffix(".deltacommit"), "deltacommit")
    }.sortBy(c => BigInt(c._1))
    if (commits.isEmpty)
      throw new IllegalStateException(s"$tableDir: no completed commits")
    val wanted = asOfInstant match {
      case Some(t) =>
        if (!commits.exists(_._1 == t)) throw new IllegalArgumentException(
          s"$tableDir: no completed commit at instant $t " +
            s"(have ${commits.map(_._1).mkString(", ")})")
        commits.takeWhile(c => BigInt(c._1) <= BigInt(t))
      case None => commits
    }

    // (partition, fileId) -> (baseInstant, basePath, logs)
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), (String, String, Vector[LogFile])]
    for ((instant, kind) <- wanted) {
      val p = new Path(hoodieDir, s"$instant.$kind")
      val json = try JsonMethods.parse(LakeFiles.readText(fs, p))
        catch { case e: Exception => throw new IllegalStateException(
          s"$tableDir: malformed commit $instant: ${e.getMessage}")
        }
      if (kind == "replacecommit")
        (json \ "partitionToReplaceFileIds") match {
          case JObject(parts) => parts.foreach { case (part, ids) =>
            ids match {
              case JArray(arr) => arr.foreach { id =>
                groups.remove((part, id.extract[String])): Unit
              }
              case _ => throw new IllegalStateException(
                s"$tableDir: replacecommit $instant " +
                  s"partitionToReplaceFileIds[$part] is not an array")
            }
          }
          case _ => throw new IllegalStateException(
            s"$tableDir: replacecommit $instant has no " +
              "partitionToReplaceFileIds")
        }
      (json \ "partitionToWriteStats") match {
        case JObject(parts) => parts.foreach { case (part, stats) =>
          stats match {
            case JArray(ws) => ws.foreach { w =>
              val fileId = (w \ "fileId").extractOpt[String].getOrElse(
                throw new IllegalStateException(
                  s"$tableDir: commit $instant writeStat without fileId"))
              val path = (w \ "path").extractOpt[String].getOrElse(
                throw new IllegalStateException(
                  s"$tableDir: commit $instant writeStat without path"))
              val name = path.split('/').last
              if (path.endsWith(".parquet") || path.endsWith(".orc")) {
                // a base write STARTS a new slice: earlier logs are
                // absorbed (compaction) or irrelevant (fresh insert)
                groups((part, fileId)) = (instant, path, Vector.empty)
              } else if (name.contains(".log.")) {
                val (logFileId, baseInstant, version) = parseLogName(name)
                if (logFileId != fileId) throw new IllegalStateException(
                  s"$tableDir: commit $instant log $name claims fileId " +
                    s"$logFileId but its writeStat says $fileId")
                val cur = groups.getOrElse((part, fileId),
                  throw new IllegalStateException(
                    s"$tableDir: commit $instant appends log $name to " +
                      s"file group $fileId which has NO base file — " +
                      "log-only groups are outside HudiMorLite scope"))
                if (cur._1 != baseInstant) throw new IllegalStateException(
                  s"$tableDir: log $name targets base instant " +
                    s"$baseInstant but group $fileId's current base is " +
                    s"${cur._1} — stale/foreign log")
                groups((part, fileId)) =
                  (cur._1, cur._2,
                    cur._3 :+ LogFile(path, instant, version))
              } else throw new IllegalStateException(
                s"$tableDir: commit $instant writes $path — neither a " +
                  "columnar base file nor a .log file")
            }
            case _ => throw new IllegalStateException(
              s"$tableDir: commit $instant partitionToWriteStats[$part] " +
                "is not an array")
          }
        }
        case _ => throw new IllegalStateException(
          s"$tableDir: commit $instant has no partitionToWriteStats")
      }
    }
    val slices = groups.toSeq.map { case ((part, fid), (bi, bp, logs)) =>
      FileSlice(part, fid, bi, s"$tableDir/$bp",
        logs.sortBy(l => (BigInt(l.instant), l.version))
          .map(l => l.copy(path = s"$tableDir/${l.path}")))
    }
    MorSnapshot(wanted.last._1, slices, precombine, wanted.map(_._1))
  }

  /** One decoded log record: the record key, the total order among
    * log records, the soft-delete flag, and the row values aligned to
    * the OUTPUT schema's field order. */
  private[graft] final case class LogRecord(key: String, ord: String,
                                            deleted: Boolean,
                                            values: Seq[Any])

  /** One framed log block: its index in the file, type ordinal,
    * decoded header map (ordinal → UTF-8 value) and raw content. */
  private[graft] final case class RawBlock(path: String, blockIdx: Int,
                                           blockType: Int,
                                           headers: Map[Int, String],
                                           content: Array[Byte])

  /** Frame one log FILE into its blocks (byte layout in the object
    * doc). AVRO_DATA / DELETE / COMMAND blocks pass through (COMMAND
    * is interpreted by [[decodeSliceLogs]]); HFILE/PARQUET/CDC/
    * CORRUPT/unknown refuse loudly. */
  private[graft] def parseRawBlocks(path: String,
                                    allowed: Set[Int] = Set(
                                      AvroDataBlockOrdinal,
                                      ParquetDataBlockOrdinal,
                                      DeleteBlockOrdinal,
                                      CommandBlockOrdinal))
  : Vector[RawBlock] = {
    val fsPath = new Path(path)
    val fs = fsPath.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = new DataInputStream(new java.io.BufferedInputStream(
      fs.open(fsPath)))
    try {
      val out = Vector.newBuilder[RawBlock]
      var blockIdx = 0
      var eof = false
      while (!eof) {
        val first = in.read()
        if (first < 0) eof = true
        else {
          val magic = new Array[Byte](6)
          magic(0) = first.toByte
          in.readFully(magic, 1, 5)
          if (!java.util.Arrays.equals(magic, Magic))
            throw new IllegalStateException(
              s"$path: block $blockIdx does not start with the #HUDI# " +
                "magic — corrupt or not a HoodieLogFormat file")
          in.readLong() // block length (excluding magic); re-derived below
          val fmtVersion = in.readInt()
          if (fmtVersion != 1) throw new IllegalStateException(
            s"$path: log-format version $fmtVersion (HudiMorLite reads " +
              "version 1)")
          val blockType = in.readInt()
          if (!allowed.contains(blockType))
            throw new IllegalStateException(
              s"$path: block $blockIdx is " +
                BlockTypeNames.lift(blockType)
                  .getOrElse(s"unknown type $blockType") +
                " — this read serves " +
                allowed.toSeq.sorted.flatMap(BlockTypeNames.lift)
                  .mkString(", "))
          // header map: count, then (key ordinal, length, utf8 value).
          // Sizes are UNTRUSTED input — a garbage count/length must
          // refuse by name, not allocate gigabytes
          def sane(n: Int, what: String): Int = {
            if (n < 0 || n > (1 << 26)) throw new IllegalStateException(
              s"$path: block $blockIdx claims $what of $n — corrupt")
            n
          }
          val headers = (0 until sane(in.readInt(), "header count"))
            .map { _ =>
              val k = in.readInt()
              val bytes =
                new Array[Byte](sane(in.readInt(), "header length"))
              in.readFully(bytes)
              k -> new String(bytes, "UTF-8")
            }.toMap
          val contentLen = in.readLong()
          if (contentLen < 0 || contentLen > Int.MaxValue)
            throw new IllegalStateException(
              s"$path: block $blockIdx claims content length $contentLen")
          val content = new Array[Byte](contentLen.toInt)
          in.readFully(content)
          // footer map (usually empty) + trailing total size
          (0 until sane(in.readInt(), "footer count")).foreach { _ =>
            in.readInt()
            val bytes =
              new Array[Byte](sane(in.readInt(), "footer length"))
            in.readFully(bytes)
          }
          in.readLong()
          out += RawBlock(path, blockIdx, blockType, headers, content)
          blockIdx += 1
        }
      }
      out.result()
    } finally in.close()
  }

  /** Decode one CDC log file (RFC-51: a HoodieLogFormat file holding
    * CDC_DATA_BLOCKs whose records carry op + before/after JSON row
    * images) into (op, before, after) triples. Executor-side byte
    * work — callers parallelize over files. A non-CDC block inside a
    * CDC file, an unknown op, or a missing op refuse loudly; the
    * JSON images are parsed downstream with the table schema
    * (FAILFAST, so a corrupt image refuses there, never nulls). */
  private[graft] def decodeCdcFile(path: String)
  : Seq[(String, Option[String], Option[String])] = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.avro.io.DecoderFactory
    parseRawBlocks(path, allowed = Set(CdcDataBlockOrdinal))
      .flatMap { b =>
        val schemaJson = b.headers
          .getOrElse(SchemaHeaderOrdinal, CdcSchema)
        val schema = new Schema.Parser().parse(schemaJson)
        val reader = new GenericDatumReader[GenericRecord](schema)
        val in = new DataInputStream(
          new java.io.ByteArrayInputStream(b.content))
        def sane(v: Int, what: String): Int = {
          if (v < 0 || v > b.content.length)
            throw new IllegalStateException(
              s"$path: block ${b.blockIdx} claims $what of $v over " +
                s"${b.content.length} content bytes — corrupt")
          v
        }
        in.readInt() // content format version
        val n = sane(in.readInt(), "record count")
        (0 until n).map { recIdx =>
          val bytes =
            new Array[Byte](sane(in.readInt(), "record length"))
          in.readFully(bytes)
          val rec = reader.read(null,
            DecoderFactory.get().binaryDecoder(bytes, null))
          def str(name: String): Option[String] =
            if (rec.getSchema.getField(name) == null) None
            else Option(rec.get(name)).map(_.toString)
          val op = str("op").getOrElse(throw new IllegalStateException(
            s"$path: block ${b.blockIdx} CDC record $recIdx has no op"))
          if (!Set("i", "u", "d").contains(op))
            throw new IllegalStateException(
              s"$path: block ${b.blockIdx} CDC record $recIdx has " +
                s"op '$op' — i/u/d are the published operations")
          (op, str("before"), str("after"))
        }
      }
  }

  /** Decode ONE SLICE's ordered log files (executor-side) and emit
    * records aligned to `fieldNames`/`fieldTypes`. Each file pairs
    * with its (instant, version) `ordPrefix`; block/record indexes
    * extend it to a total order. `partition` is the slice's partition
    * path — a record claiming a different one refuses.
    *
    * ROLLBACKS (HoodieCommandBlock, the published semantics of
    * AbstractHoodieLogRecordReader): a COMMAND_BLOCK of type
    * ROLLBACK_PREVIOUS_BLOCK (COMMAND_BLOCK_TYPE header "0") removes
    * every EARLIER block in the slice's log stream whose own
    * INSTANT_TIME header equals the command's TARGET_INSTANT_TIME
    * header — a failed write's orphaned blocks die to the rollback
    * that follows them, across log-file boundaries (the rollback
    * appends to a later log file of the same file group). An unknown
    * command type, a rollback without a target, or a rollback over
    * blocks that carry no INSTANT_TIME header (undecidable
    * applicability) refuse loudly. */
  private[graft] def decodeSliceLogs(files: Seq[(String, String)],
                                     partition: String,
                                     fieldNames: Seq[String],
                                     fieldTypes: Seq[DataType],
                                     precombineIdx: Option[Int] = None)
  : Iterator[LogRecord] = {
    val live = scala.collection.mutable
      .ArrayBuffer.empty[(String, RawBlock)] // (ordPrefix, block)
    for ((path, ordPrefix) <- files; block <- parseRawBlocks(path)) {
      if (block.blockType == CommandBlockOrdinal) {
        val cmdType = block.headers.getOrElse(CommandTypeHeaderOrdinal,
          throw new IllegalStateException(
            s"$path: block ${block.blockIdx} is a COMMAND_BLOCK " +
              "without a COMMAND_BLOCK_TYPE header"))
        if (cmdType != RollbackCommandType)
          throw new IllegalStateException(
            s"$path: block ${block.blockIdx} is a COMMAND_BLOCK of " +
              s"unknown type $cmdType — ROLLBACK_PREVIOUS_BLOCK (0) " +
              "is the only published command type")
        val target = block.headers.getOrElse(TargetInstantHeaderOrdinal,
          throw new IllegalStateException(
            s"$path: block ${block.blockIdx} is a rollback " +
              "COMMAND_BLOCK without a TARGET_INSTANT_TIME header"))
        live.filterInPlace { case (_, b) =>
          b.headers.get(InstantTimeHeaderOrdinal) match {
            case Some(instant) => instant != target
            case None => throw new IllegalStateException(
              s"${b.path}: block ${b.blockIdx} carries no INSTANT_TIME " +
                s"header but a rollback targeting $target follows it — " +
                "cannot decide whether the block is invalidated")
          }
        }: Unit
      } else live += ((ordPrefix, block))
    }
    live.iterator.flatMap { case (ordPrefix, b) =>
      val ord = f"$ordPrefix%s|${b.blockIdx}%010d"
      if (b.content.length < 8) throw new IllegalStateException(
        s"${b.path}: block ${b.blockIdx} holds ${b.content.length} " +
          "content bytes — too short for a data/delete block")
      if (b.blockType == DeleteBlockOrdinal)
        decodeDeleteBlock(b.path, b.blockIdx, b.content, ord, partition,
          fieldNames.size, precombineIdx.map(i => i -> fieldTypes(i)))
      else if (b.blockType == ParquetDataBlockOrdinal)
        decodeParquetBlock(b.path, b.blockIdx, b.content, ord,
          partition, fieldNames, fieldTypes)
      else {
        // data blocks carry their Avro schema in the SCHEMA header
        val schemaJson = b.headers.getOrElse(SchemaHeaderOrdinal,
          throw new IllegalStateException(
            s"${b.path}: block ${b.blockIdx} carries no SCHEMA header " +
              "— cannot decode its Avro records"))
        decodeAvroBlock(b.path, b.blockIdx, schemaJson, b.content, ord,
          partition, fieldNames, fieldTypes)
      }
    }
  }

  /** Single-file convenience over [[decodeSliceLogs]] (spec surface;
    * a rollback in this file can only target blocks before it in the
    * SAME file). */
  private[graft] def decodeLogFile(path: String, partition: String,
                                   ordPrefix: String,
                                   fieldNames: Seq[String],
                                   fieldTypes: Seq[DataType])
  : Iterator[LogRecord] =
    decodeSliceLogs(Seq(path -> ordPrefix), partition, fieldNames,
      fieldTypes)

  /** Decode a DELETE_BLOCK's content ([content version][payload
    * length][payload] — HoodieDeleteBlock): version 3 = binary-Avro
    * [[DeleteRecordListSchema]]; versions 1/2 (Kryo) refuse BY
    * VERSION. Emitted records are hard deletes riding the SAME total
    * order as data-block records, so max_by decides delete-vs-
    * re-insert races.
    *
    * `precombine` = (field index, field type) when the table declares
    * an event-time ordering field: the delete's orderingVal is then
    * REQUIRED (null/0 means "natural order" — a win-at-arrival
    * semantics that cannot fold into one monotonic aggregate, so it
    * refuses loudly) and lands in the record's values at the
    * precombine slot, where the merge ordering reads it. Without a
    * precombine field the INVERSE holds: a non-trivial orderingVal
    * refuses (merge order is commit/arrival order). */
  private def decodeDeleteBlock(path: String, blockIdx: Int,
                                content: Array[Byte], ordPrefix: String,
                                partition: String, nFields: Int,
                                precombine: Option[(Int, DataType)])
  : Seq[LogRecord] = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.avro.io.DecoderFactory
    val in = new DataInputStream(
      new java.io.ByteArrayInputStream(content))
    val version = in.readInt()
    if (version != CurrentDeleteBlockVersion)
      throw new IllegalStateException(
        s"$path: block $blockIdx is a DELETE_BLOCK with content " +
          s"version $version — HudiMorLite reads version " +
          s"$CurrentDeleteBlockVersion (Avro HoodieDeleteRecordList); " +
          "versions 1/2 are Kryo-serialized HoodieKey[]/DeleteRecord[]")
    val len = in.readInt()
    if (len < 0 || len > content.length) throw new IllegalStateException(
      s"$path: block $blockIdx claims delete payload of $len over " +
        s"${content.length} content bytes — corrupt")
    val bytes = new Array[Byte](len)
    in.readFully(bytes)
    val schema = new Schema.Parser().parse(DeleteRecordListSchema)
    val rec = new GenericDatumReader[GenericRecord](schema)
      .read(null, DecoderFactory.get().binaryDecoder(bytes, null))
    val list = rec.get("deleteRecordList") match {
      case l: java.util.List[_] => l
      case other => throw new IllegalStateException(
        s"$path: block $blockIdx deleteRecordList is " +
          s"${Option(other).map(_.getClass.getName).getOrElse("null")}")
    }
    (0 until list.size()).map { recIdx =>
      val d = list.get(recIdx).asInstanceOf[GenericRecord]
      def str(n: String): Option[String] = d.get(n) match {
        case null => None
        case u: org.apache.avro.util.Utf8 => Some(u.toString)
        case s: String => Some(s)
        case other => throw new IllegalStateException(
          s"$path: block $blockIdx delete record $n holds " +
            s"${other.getClass.getSimpleName}")
      }
      val key = str("recordKey").getOrElse(
        throw new IllegalStateException(
          s"$path: block $blockIdx delete record $recIdx has a null " +
            "recordKey"))
      for (p <- str("partitionPath") if p != partition)
        throw new IllegalStateException(
          s"$path: block $blockIdx deletes key $key in partition '$p' " +
            s"but the slice's partition is '$partition' — foreign log")
      val ordVal = d.get("orderingVal")
      val values: Seq[Any] = precombine match {
        case None =>
          ordVal match {
            case null =>
            case n: Number if n.doubleValue() == 0.0 => // "no ordering"
            case ov => throw new IllegalStateException(
              s"$path: block $blockIdx delete record carries " +
                s"orderingVal $ov but the table declares no precombine " +
                "field — merge order here is commit/arrival order")
          }
          Seq.fill(nFields)(null)
        case Some((pcIdx, pcType)) =>
          val conv: Any = ordVal match {
            case null => throw new IllegalStateException(
              s"$path: block $blockIdx delete record carries no " +
                "orderingVal but the table declares a precombine field " +
                "— a natural-order delete wins at arrival regardless " +
                "of event time, which cannot fold into the event-time " +
                "merge; outside HudiMorLite scope")
            case n: Number if n.doubleValue() == 0.0 =>
              throw new IllegalStateException(
                s"$path: block $blockIdx delete record carries the " +
                  "default orderingVal 0 (natural order) but the table " +
                  "declares a precombine field — outside HudiMorLite " +
                  "scope (see the null-orderingVal refusal)")
            case v => (v, pcType) match {
              case (n: Number, LongType)    => n.longValue()
              case (n: Number, IntegerType) => n.intValue()
              case (n: Number, DoubleType)  => n.doubleValue()
              case (n: Number, FloatType)   => n.floatValue()
              case (u: org.apache.avro.util.Utf8, StringType) =>
                u.toString
              case (s: String, StringType)  => s
              case (other, dt) => throw new IllegalStateException(
                s"$path: block $blockIdx delete orderingVal holds " +
                  s"${other.getClass.getSimpleName} but the precombine " +
                  s"column is ${dt.simpleString} — incomparable")
            }
          }
          Seq.tabulate(nFields)(i => if (i == pcIdx) conv else null)
      }
      LogRecord(key, f"$ordPrefix%s|$recIdx%010d", deleted = true,
        values)
    }
  }

  /** Decode an AVRO_DATA_BLOCK's content: [4-byte format version]
    * [4-byte record count] then per record [4-byte length][binary
    * Avro]. Flat primitive records only; fields resolve by NAME
    * against the output schema and must cover every output column. */
  private def decodeAvroBlock(path: String, blockIdx: Int,
                              schemaJson: String, content: Array[Byte],
                              ordPrefix: String, partition: String,
                              fieldNames: Seq[String],
                              fieldTypes: Seq[DataType])
  : Seq[LogRecord] = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.avro.io.DecoderFactory
    val schema = new Schema.Parser().parse(schemaJson)
    if (schema.getType != Schema.Type.RECORD)
      throw new IllegalStateException(
        s"$path: block $blockIdx schema is ${schema.getType}, not a " +
          "record")
    val keyIdx = fieldNames.indexOf("_hoodie_record_key")
    val partIdx = fieldNames.indexOf("_hoodie_partition_path")
    val reader = new GenericDatumReader[GenericRecord](schema)
    val in = new DataInputStream(
      new java.io.ByteArrayInputStream(content))
    def sane(v: Int, what: String): Int = {
      if (v < 0 || v > content.length) throw new IllegalStateException(
        s"$path: block $blockIdx claims $what of $v over " +
          s"${content.length} content bytes — corrupt")
      v
    }
    in.readInt() // content format version
    val n = sane(in.readInt(), "record count")
    (0 until n).map { recIdx =>
      val bytes = new Array[Byte](sane(in.readInt(), "record length"))
      in.readFully(bytes)
      val rec = reader.read(null,
        DecoderFactory.get().binaryDecoder(bytes, null))
      def field(name: String): Any =
        if (rec.getSchema.getField(name) == null) null
        else rec.get(name) match {
          case u: org.apache.avro.util.Utf8 => u.toString
          case other => other
        }
      // every OUTPUT column must exist in the log record — a missing
      // column would silently null a patched row's value
      val missing = fieldNames.filter(n => rec.getSchema.getField(n) == null)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"$path: block $blockIdx record lacks columns " +
          s"${missing.mkString(", ")} — partial log records are " +
          "outside HudiMorLite scope")
      val values = fieldNames.zip(fieldTypes).map { case (nm, dt) =>
        (field(nm), dt) match {
          case (null, _)                => null
          case (v: Number, LongType)    => v.longValue()
          case (v: Number, IntegerType) => v.intValue()
          case (v: Number, DoubleType)  => v.doubleValue()
          case (v: Number, FloatType)   => v.floatValue()
          case (v, StringType)          => v.toString
          case (v: Boolean, BooleanType) => v
          case (v, dt2) => throw new IllegalStateException(
            s"$path: column $nm holds ${v.getClass.getSimpleName} but " +
              s"the base schema says ${dt2.simpleString} — outside " +
              "HudiMorLite's flat-primitive scope")
        }
      }
      val key = if (keyIdx >= 0) values(keyIdx).asInstanceOf[String]
        else field("_hoodie_record_key") match {
          case null => throw new IllegalStateException(
            s"$path: block $blockIdx record has no _hoodie_record_key")
          case k => k.toString
        }
      // the merge keys on the SLICE's partition — a record claiming a
      // different one would silently patch the wrong partition's rows
      if (partIdx >= 0 && values(partIdx) != partition)
        throw new IllegalStateException(
          s"$path: block $blockIdx record (key $key) claims partition " +
            s"'${values(partIdx)}' but the slice's partition is " +
            s"'$partition' — foreign log")
      val deleted = field("_hoodie_is_deleted") match {
        case b: java.lang.Boolean => b.booleanValue()
        case _                    => false
      }
      LogRecord(key, f"$ordPrefix%s|$recIdx%010d", deleted, values)
    }
  }

  /** In-memory parquet: the PARQUET_DATA_BLOCK payload is a complete
    * parquet file in the block's content bytes (HoodieParquetDataBlock
    * writes the serialized records straight through a parquet stream
    * writer), so the executor-side decode reads it through
    * parquet-hadoop over a byte-array [[org.apache.parquet.io
    * .InputFile]] — no temp files, no driver round-trips. */
  private final class BytesSeekableStream(bytes: Array[Byte])
    extends org.apache.parquet.io.SeekableInputStream {
    private var pos = 0
    override def read(): Int =
      if (pos >= bytes.length) -1
      else { val b = bytes(pos) & 0xff; pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (pos >= bytes.length) -1
      else {
        val n = math.min(len, bytes.length - pos)
        System.arraycopy(bytes, pos, b, off, n); pos += n; n
      }
    override def getPos: Long = pos.toLong
    override def seek(newPos: Long): Unit = pos = newPos.toInt
    override def readFully(b: Array[Byte]): Unit =
      readFully(b, 0, b.length)
    override def readFully(b: Array[Byte], off: Int, len: Int): Unit = {
      if (bytes.length - pos < len) throw new java.io.EOFException(
        s"parquet block: read past end (pos=$pos, want=$len, " +
          s"have=${bytes.length})")
      System.arraycopy(bytes, pos, b, off, len); pos += len
    }
    override def read(buf: java.nio.ByteBuffer): Int =
      if (pos >= bytes.length) -1
      else {
        val n = math.min(buf.remaining(), bytes.length - pos)
        buf.put(bytes, pos, n); pos += n; n
      }
    override def readFully(buf: java.nio.ByteBuffer): Unit = {
      val n = buf.remaining()
      if (bytes.length - pos < n) throw new java.io.EOFException(
        s"parquet block: read past end (pos=$pos, want=$n, " +
          s"have=${bytes.length})")
      buf.put(bytes, pos, n); pos += n
    }
  }
  private final class BytesInputFile(bytes: Array[Byte])
    extends org.apache.parquet.io.InputFile {
    override def getLength: Long = bytes.length.toLong
    override def newStream(): org.apache.parquet.io.SeekableInputStream =
      new BytesSeekableStream(bytes)
  }

  /** Decode a PARQUET_DATA_BLOCK (`hoodie.logfile.data.block.format=
    * parquet`, the recommended log format for Spark writers): the
    * content IS a parquet file; rows resolve BY NAME against the
    * output schema with the same contract as Avro blocks — every
    * output column must exist, flat primitives only, the slice's
    * partition is authoritative. */
  private def decodeParquetBlock(path: String, blockIdx: Int,
                                 content: Array[Byte], ordPrefix: String,
                                 partition: String,
                                 fieldNames: Seq[String],
                                 fieldTypes: Seq[DataType])
  : Seq[LogRecord] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.io.ColumnIOFactory
    val reader =
      try org.apache.parquet.hadoop.ParquetFileReader.open(
        new BytesInputFile(content))
      catch { case e: Exception => throw new IllegalStateException(
        s"$path: block $blockIdx PARQUET_DATA_BLOCK content does not " +
          s"parse as parquet: ${e.getMessage}")
      }
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val missing = fieldNames.filterNot(schema.containsField)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"$path: block $blockIdx parquet records lack columns " +
          s"${missing.mkString(", ")} — partial log records are " +
          "outside HudiMorLite scope")
      for (nm <- fieldNames :+ "_hoodie_is_deleted"
           if schema.containsField(nm))
        if (!schema.getType(schema.getFieldIndex(nm)).isPrimitive)
          throw new IllegalStateException(
            s"$path: block $blockIdx parquet column $nm is nested — " +
              "outside HudiMorLite's flat-primitive scope")
      val keyIdx = fieldNames.indexOf("_hoodie_record_key")
      val partIdx = fieldNames.indexOf("_hoodie_partition_path")
      val delIdx =
        if (schema.containsField("_hoodie_is_deleted"))
          schema.getFieldIndex("_hoodie_is_deleted") else -1
      val out = Vector.newBuilder[LogRecord]
      var recIdx = 0
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val columnIO = new ColumnIOFactory().getColumnIO(schema)
        val rr = columnIO.getRecordReader(pages,
          new GroupRecordConverter(schema))
        var i = 0L
        while (i < pages.getRowCount) {
          val g: Group = rr.read()
          def prim(nm: String, dt: DataType): Any = {
            val idx = schema.getFieldIndex(nm)
            if (g.getFieldRepetitionCount(idx) == 0) null
            else try dt match {
              case LongType    => g.getLong(idx, 0)
              case IntegerType => g.getInteger(idx, 0)
              case DoubleType  => g.getDouble(idx, 0)
              case FloatType   => g.getFloat(idx, 0)
              case StringType  => g.getString(idx, 0)
              case BooleanType => g.getBoolean(idx, 0)
              case other => throw new IllegalStateException(
                s"type ${other.simpleString} out of scope")
            } catch {
              case e: RuntimeException => throw new IllegalStateException(
                s"$path: block $blockIdx parquet column $nm does not " +
                  s"read as ${dt.simpleString}: ${e.getMessage}")
            }
          }
          val values = fieldNames.zip(fieldTypes).map {
            case (nm, dt) => prim(nm, dt) }
          val key = if (keyIdx >= 0) values(keyIdx) match {
            case s: String => s
            case _ => throw new IllegalStateException(
              s"$path: block $blockIdx parquet record $recIdx has a " +
                "null _hoodie_record_key")
          } else prim("_hoodie_record_key", StringType) match {
            case s: String => s
            case _ => throw new IllegalStateException(
              s"$path: block $blockIdx parquet record $recIdx has no " +
                "_hoodie_record_key")
          }
          if (partIdx >= 0 && values(partIdx) != partition)
            throw new IllegalStateException(
              s"$path: block $blockIdx record (key $key) claims " +
                s"partition '${values(partIdx)}' but the slice's " +
                s"partition is '$partition' — foreign log")
          val deleted = delIdx >= 0 &&
            g.getFieldRepetitionCount(delIdx) > 0 &&
            g.getBoolean(delIdx, 0)
          out += LogRecord(key, f"$ordPrefix%s|$recIdx%010d", deleted,
            values)
          recIdx += 1
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
      out.result()
    } finally reader.close()
  }

  /** Fixture-authoring block model for [[writeLogBlocks]]: an Avro
    * data block (schema JSON + records as field→value maps; the
    * ordinal override authors refusal fixtures) or a DELETE_BLOCK
    * (hard-deleted (recordKey, partitionPath) pairs; `contentVersion`
    * / `orderingVal` overrides author the version- and
    * orderingVal-refusal fixtures). */
  private[graft] sealed trait BlockSpec
  private[graft] final case class AvroBlockSpec(
      schemaJson: String, records: Seq[Map[String, Any]],
      blockType: Int = AvroDataBlockOrdinal,
      instantTime: Option[String] = None) extends BlockSpec
  private[graft] final case class DeleteBlockSpec(
      keys: Seq[(String, Option[String])],
      contentVersion: Int = CurrentDeleteBlockVersion,
      orderingVal: Option[Any] = None,
      instantTime: Option[String] = None,
      // per-key ordering values (aligned with `keys`) — the write
      // path's precombine stamps; overrides `orderingVal` when set
      orderingVals: Seq[Any] = Nil) extends BlockSpec
  /** A HoodieCommandBlock: `commandType` "0" = ROLLBACK_PREVIOUS_BLOCK
    * (the only published type; other values author refusal fixtures),
    * targeting the blocks whose INSTANT_TIME equals `targetInstant`. */
  private[graft] final case class CommandBlockSpec(
      targetInstant: Option[String],
      commandType: String = RollbackCommandType) extends BlockSpec
  /** A PARQUET_DATA_BLOCK: the content is the given parquet file's
    * bytes verbatim (as HoodieParquetDataBlock writes them). */
  private[graft] final case class ParquetBlockSpec(
      parquetBytes: Array[Byte],
      instantTime: Option[String] = None) extends BlockSpec

  /** Write a HoodieLogFormat log file — fixture/spec authoring AND
    * the write paths' executor-side log emission, the exact inverse
    * of [[decodeLogFile]]'s layout. Executor-side callers MUST pass
    * the session's hadoopConfiguration (broadcast) as `conf` — the
    * bare-Configuration default is for driver-side fixtures only
    * (spark.hadoop.*-borne credentials don't reach core-site.xml). */
  private[graft] def writeLogFile(path: String,
                                  blocks: Seq[(String,
                                    Seq[Map[String, Any]])],
                                  blockType: Int = AvroDataBlockOrdinal,
                                  conf: org.apache.hadoop.conf.Configuration =
                                    new org.apache.hadoop.conf.Configuration())
  : Unit = writeLogBlocks(path, blocks.map { case (sj, rs) =>
    AvroBlockSpec(sj, rs, blockType) }, conf)

  private[graft] def writeLogBlocks(path: String,
                                    blocks: Seq[BlockSpec],
                                    conf: org.apache.hadoop.conf.Configuration =
                                      new org.apache.hadoop.conf.Configuration())
  : Unit = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter,
      GenericRecord}
    import org.apache.avro.io.EncoderFactory
    def avroBytes(schema: Schema, rec: GenericRecord): Array[Byte] = {
      val writer = new GenericDatumWriter[GenericRecord](schema)
      val recBos = new ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(recBos, null)
      writer.write(rec, enc)
      enc.flush()
      recBos.toByteArray
    }
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    for (block <- blocks) {
      // (blockType, header entries, content bytes) per block kind
      def instantHeader(it: Option[String]): Seq[(Int, Array[Byte])] =
        it.toSeq.map(t =>
          InstantTimeHeaderOrdinal -> t.getBytes("UTF-8"))
      val (blockType, headerEntries, content) = block match {
        case AvroBlockSpec(schemaJson, records, bt, instantTime) =>
          val schema = new Schema.Parser().parse(schemaJson)
          // content: [format version][record count][per rec: len+avro]
          val contentBos = new ByteArrayOutputStream()
          val contentOut = new DataOutputStream(contentBos)
          contentOut.writeInt(1)
          contentOut.writeInt(records.size)
          for (r <- records) {
            val rec = new GenericData.Record(schema)
            schema.getFields.forEach(f =>
              rec.put(f.name(), r.getOrElse(f.name(), null)))
            val bytes = avroBytes(schema, rec)
            contentOut.writeInt(bytes.length)
            contentOut.write(bytes)
          }
          (bt, instantHeader(instantTime) :+
            (SchemaHeaderOrdinal -> schemaJson.getBytes("UTF-8")),
            contentBos.toByteArray)
        case DeleteBlockSpec(keys, version, orderingVal, instantTime,
            orderingVals) =>
          // content: [content version][payload length][Avro
          // HoodieDeleteRecordList] — no SCHEMA header (the payload
          // schema is the published constant, as in HoodieDeleteBlock)
          if (orderingVals.nonEmpty && orderingVals.size != keys.size)
            throw new IllegalArgumentException(
              s"$path: ${orderingVals.size} orderingVals for " +
                s"${keys.size} delete keys")
          val schema = new Schema.Parser().parse(DeleteRecordListSchema)
          val itemSchema = schema.getField("deleteRecordList").schema()
            .getElementType
          val list = new java.util.ArrayList[GenericRecord]()
          for (((k, p), i) <- keys.zipWithIndex) {
            val d = new GenericData.Record(itemSchema)
            d.put("recordKey", k)
            d.put("partitionPath", p.orNull)
            d.put("orderingVal",
              if (orderingVals.nonEmpty) orderingVals(i)
              else orderingVal.orNull)
            list.add(d): Unit
          }
          val rec = new GenericData.Record(schema)
          rec.put("deleteRecordList", list)
          val payload = avroBytes(schema, rec)
          val contentBos = new ByteArrayOutputStream()
          val contentOut = new DataOutputStream(contentBos)
          contentOut.writeInt(version)
          contentOut.writeInt(payload.length)
          contentOut.write(payload)
          (DeleteBlockOrdinal, instantHeader(instantTime),
            contentBos.toByteArray)
        case CommandBlockSpec(target, cmdType) =>
          // command blocks carry their semantics entirely in headers;
          // content is empty (as HoodieCommandBlock writes it)
          (CommandBlockOrdinal,
            (CommandTypeHeaderOrdinal -> cmdType.getBytes("UTF-8")) +:
              target.toSeq.map(t =>
                TargetInstantHeaderOrdinal -> t.getBytes("UTF-8")),
            Array.emptyByteArray)
        case ParquetBlockSpec(parquetBytes, instantTime) =>
          (ParquetDataBlockOrdinal, instantHeader(instantTime),
            parquetBytes)
      }
      val headerBos = new ByteArrayOutputStream()
      val headerOut = new DataOutputStream(headerBos)
      headerOut.writeInt(headerEntries.size)
      for ((ord, bytes) <- headerEntries) {
        headerOut.writeInt(ord)
        headerOut.writeInt(bytes.length)
        headerOut.write(bytes)
      }
      val header = headerBos.toByteArray
      val footer = { val b = new ByteArrayOutputStream()
        new DataOutputStream(b).writeInt(0); b.toByteArray }
      val blockLen = 4 + 4 + header.length + 8 + content.length +
        footer.length + 8
      out.write(Magic)
      out.writeLong(blockLen.toLong)
      out.writeInt(1)         // log-format version
      out.writeInt(blockType)
      out.write(header)
      out.writeLong(content.length.toLong)
      out.write(content)
      out.write(footer)
      out.writeLong(6L + 8L + blockLen) // total incl. magic + len field
    }
    out.flush()
    // the path's OWN Hadoop filesystem: executor-side callers (the
    // upsert writer's per-group CDC logs) and scheme-qualified roots
    // both work; java.nio would treat "file:/a" as a relative path.
    // UNWRAP ChecksumFileSystem (the local default): its .crc
    // sidecars are not part of the Hudi layout, and real Hudi log
    // files are not checksum-shadowed — a reader/mutator of the raw
    // bytes must see exactly the log format, nothing else.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs0 = p.getFileSystem(conf)
    val fs = fs0 match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem
      case f => f
    }
    val fsOut = fs.create(p, true)
    try fsOut.write(bos.toByteArray) finally fsOut.close()
  }

  /** The shared merge inputs: the base scan, the per-(partition, key)
    * winning log record (payload carries `_hml_ord` so callers can
    * read the winning instant), and the join plumbing. */
  private final case class MergeParts(base: DataFrame,
                                      winners: DataFrame,
                                      hasPartCol: Boolean,
                                      names: Seq[String],
                                      hadLogs: Boolean)

  /** Build the shared merge inputs for `snap` (gates + base scan +
    * executor-side log decode + the one partial-combining winner
    * aggregate). `hadLogs = false` means the snapshot has no log
    * files at all — `winners` is then unusable and `base` IS the
    * table. `keepGid = true` additionally threads each row's FILE
    * GROUP id through the merge as a `_gid` column (base rows from a
    * broadcast basePath→fileId map, log winners from their slice) —
    * the group-grain tag [[compactLogs]]' one distributed rewrite
    * shuffles on. */
  private def buildMerge(spark: SparkSession, tableDir: String,
                         snap: MorSnapshot,
                         keepGid: Boolean = false): MergeParts = {
    if (snap.slices.isEmpty) throw new IllegalStateException(
      s"$tableDir: snapshot at ${snap.instant} resolves to zero file " +
        "slices — nothing to read")
    val base0 = ColumnarScan(spark, tableDir, None,
      snap.slices.map(_.basePath))
    if (!base0.columns.contains("_hoodie_record_key"))
      throw new IllegalStateException(
        s"$tableDir: base files carry no _hoodie_record_key — cannot " +
          "merge log records (populateMetaFields=false tables are " +
          "outside HudiMorLite scope)")
    val base =
      if (!keepGid) base0
      else {
        import spark.implicits._
        val pathFid = snap.slices.map(s =>
          HudiCowLite.normPath(s.basePath) -> s.fileId)
          .toDF("_g_path", "_gid")
        // LEFT join + loud guard: a base path the slice map cannot
        // resolve must fail the job, not silently drop its rows from
        // the merge (compactLogs rewrites groups from this frame —
        // an inner join here would be permanent row loss)
        base0.withColumn("_g_path",
          MetaPaths.decoded(col("_metadata.file_path")))
          .join(broadcast(pathFid), Seq("_g_path"), "left")
          .withColumn("_gid", when(col("_gid").isNull,
            raise_error(concat(lit(
              s"HudiMorLite: $tableDir: base file "), col("_g_path"),
              lit(" resolves to no file slice — dropping its rows " +
                "would corrupt the group rewrite"))))
            .otherwise(col("_gid")))
          .drop("_g_path")
      }
    // one decode unit per SLICE (its ordered log files together):
    // rollback COMMAND_BLOCKs invalidate earlier blocks of the same
    // file group across file boundaries, so the slice is the smallest
    // correct decode grain
    val sliceLogs: Seq[(String, String, Seq[(String, String)])] =
      snap.slices.filter(_.logs.nonEmpty).map { s =>
        (s.partition, s.fileId, s.logs.map(l =>
          (l.path, f"${BigInt(l.instant)}%020d|${l.version}%010d")))
      }
    if (sliceLogs.isEmpty)
      return MergeParts(base, base.limit(0), hasPartCol = false,
        base0.schema.fieldNames.toSeq, hadLogs = false)
    // record keys are only unique PER PARTITION under Hudi's default
    // (non-global) index, so the merge keys on (partition, key). Base
    // rows bring _hoodie_partition_path; without it a MULTI-partition
    // table cannot disambiguate cross-partition key collisions —
    // refuse rather than silently mis-patch
    val PartCol = "_hoodie_partition_path"
    val hasPartCol = base0.columns.contains(PartCol)
    val distinctParts2 =
      (sliceLogs.map(_._1) ++ snap.slices.map(_.partition)).distinct
    if (!hasPartCol && distinctParts2.size > 1)
      throw new IllegalStateException(
        s"$tableDir: multi-partition MOR table whose base files lack " +
          s"$PartCol — record keys are only unique per partition " +
          "(non-global index), so a key-only merge could silently " +
          "patch the wrong partition's rows")
    val names = base0.schema.fieldNames.toSeq
    val types = base0.schema.fields.map(_.dataType).toSeq
    for ((nm, dt) <- names.zip(types)) dt match {
      case LongType | IntegerType | DoubleType | FloatType |
           StringType | BooleanType =>
      case other => throw new IllegalStateException(
        s"$tableDir: base column $nm is ${other.simpleString} — log " +
          "merging is flat-primitive scope in HudiMorLite")
    }
    // event-time merge: when hoodie.properties declares a precombine
    // field, the ordering becomes (precombine value, arrival) — the
    // published DefaultHoodieRecordPayload semantics (higher ordering
    // wins, ties go to the incoming record), applied log-vs-log AND
    // base-vs-log
    val pcField = snap.precombineField
    for (pc <- pcField) {
      if (!names.contains(pc)) throw new IllegalStateException(
        s"$tableDir: hoodie.table.precombine.field=$pc is not a base " +
          "column — cannot event-time-order the merge")
      types(names.indexOf(pc)) match {
        case LongType | IntegerType | DoubleType | FloatType |
             StringType =>
        case other => throw new IllegalStateException(
          s"$tableDir: precombine field $pc is ${other.simpleString} — " +
            "not an orderable event-time type in HudiMorLite")
      }
    }
    val pcIdx = pcField.map(names.indexOf)
    // executor-side block decode: one task per SLICE (bounded list on
    // the driver, record volume stays distributed); fan-out caps at
    // the cluster's parallelism, not a constant
    val logSchema = StructType(
      StructField("_hml_key", StringType) ::
        StructField("_hml_part", StringType) ::
        StructField("_hml_gid", StringType) ::
        StructField("_hml_ord", StringType) ::
        StructField("_hml_deleted", BooleanType) ::
        base0.schema.fields.toList)
    val rowsRdd = spark.sparkContext
      .parallelize(sliceLogs,
        math.min(sliceLogs.size,
          spark.sparkContext.defaultParallelism).max(1))
      .flatMap { case (partition, fileId, files) =>
        decodeSliceLogs(files, partition, names, types, pcIdx).map(r =>
          Row.fromSeq(r.key +: partition +: fileId +: r.ord +:
            r.deleted +: r.values))
      }
    val logDf = spark.createDataFrame(rowsRdd, logSchema)
    // winning record per (partition, key): ONE partial-combining
    // max_by (the total order string encodes
    // instant|logVersion|block|record — DELETE_BLOCK keys and soft
    // deletes ride the same stream, so a later re-insert outranks its
    // delete; a precombine field PREPENDS the event-time value to that
    // order), then winners patch the base — anti-join + union, no
    // window
    def pcGuard(c: Column, what: String): Column =
      when(c.isNull, raise_error(lit(
        s"HudiMorLite: $tableDir: a $what carries a NULL precombine " +
          "value — cannot event-time-order the merge"))).otherwise(c)
    val ordExpr = pcField match {
      case None     => col("_hml_ord")
      case Some(pc) => struct(pcGuard(col(pc), "log record"),
        col("_hml_ord"))
    }
    val payload = struct(
      (col("_hml_deleted") +: col("_hml_ord") +: col("_hml_gid") +:
        names.map(col)): _*)
    // _hml_arr = the key's LAST ARRIVAL ord (max over arrival alone).
    // Under a precombine field the event-time winner's own _hml_ord
    // can be an EARLIER arrival, but incremental range membership is
    // by arrival — both ride the same single aggregate.
    val winners = logDf
      .groupBy(col("_hml_part"), col("_hml_key"))
      .agg(max_by(payload, ordExpr).as("_hml_top"),
        max(col("_hml_ord")).as("_hml_arr"))
    MergeParts(base, winners, hasPartCol, names, hadLogs = true)
  }

  /** MOR SNAPSHOT DataFrame: base scan patched by the winning log
    * record per key (plan shape in the object doc). */
  def read(spark: SparkSession, tableDir: String,
           asOfInstant: Option[String] = None): DataFrame =
    readSnapshot(spark, tableDir, snapshot(spark, tableDir, asOfInstant))

  /** The merge over an EXPLICIT snapshot — [[read]]'s body, also the
    * distributed rewrite [[compactLogs]] runs over the log-carrying
    * groups (with `keepGid = true`, which tags every merged row with
    * its file group id as `_gid`). */
  private def readSnapshot(spark: SparkSession, tableDir: String,
                           snap: MorSnapshot,
                           keepGid: Boolean = false): DataFrame = {
    val mp = buildMerge(spark, tableDir, snap, keepGid)
    if (!mp.hadLogs) return mp.base
    val MergeParts(base, winners, hasPartCol, names, _) = mp
    val PartCol = "_hoodie_partition_path"
    def gidCol: Seq[Column] =
      if (keepGid) Seq(col("_hml_top._hml_gid").as("_gid")) else Nil
    val pcField = snap.precombineField
    def pcGuard(c: Column, what: String): Column =
      when(c.isNull, raise_error(lit(
        s"HudiMorLite: $tableDir: a $what carries a NULL precombine " +
          "value — cannot event-time-order the merge"))).otherwise(c)
    pcField match {
      case None =>
        val patched = winners
          .filter(!col("_hml_top._hml_deleted"))
          .select(names.map(n => col(s"_hml_top.$n").as(n)) ++
            gidCol: _*)
        val joinCond =
          if (hasPartCol)
            base(PartCol) === col("_hml_part") &&
              base("_hoodie_record_key") === col("_hml_key")
          else base("_hoodie_record_key") === col("_hml_key")
        base
          .join(winners.select(col("_hml_part"), col("_hml_key")),
            joinCond, "left_anti")
          .unionByName(patched)
      case Some(pc) =>
        // a winner only REPLACES a base row it outranks (winner's
        // event time >= the base row's); a lower-ordering late
        // arrival loses to the stored row. Two bounded joins keep
        // the scale shape: the anti-join removes outranked base
        // rows, and the winners re-check against a 3-column base
        // projection before emitting (new keys pass through).
        val winKeys = winners.select(col("_hml_part"), col("_hml_key"),
          col(s"_hml_top.$pc").as("_hml_pcv"))
        val antiCond =
          (if (hasPartCol)
            base(PartCol) === winKeys("_hml_part") &&
              base("_hoodie_record_key") === winKeys("_hml_key")
          else base("_hoodie_record_key") === winKeys("_hml_key")) &&
            winKeys("_hml_pcv") >= pcGuard(base(pc), "base row")
        val kept = base.join(winKeys, antiCond, "left_anti")
        val baseKeys = base.select(
          (if (hasPartCol) base(PartCol)
           else lit(null).cast(StringType)).as("_hb_part"),
          base("_hoodie_record_key").as("_hb_key"),
          base(pc).as("_hb_pcv"))
        val patchCond =
          if (hasPartCol)
            col("_hml_part") === col("_hb_part") &&
              col("_hml_key") === col("_hb_key")
          else col("_hml_key") === col("_hb_key")
        val patched = winners
          .filter(!col("_hml_top._hml_deleted"))
          .join(baseKeys, patchCond, "left")
          // CASE keeps the null-guard out of the no-base-row branch
          // (the outer join fills _hb_pcv with null there)
          .filter(when(col("_hb_key").isNull, lit(true))
            .otherwise(col(s"_hml_top.$pc") >=
              pcGuard(col("_hb_pcv"), "base row")))
          .select(names.map(n => col(s"_hml_top.$n").as(n)) ++
            gidCol: _*)
        kept.unionByName(patched)
    }
  }

  /** MOR INCREMENTAL query: the LATEST merged value of every row
    * whose last change landed in (`beginInstant`, `endInstant`] —
    * Hudi's `hoodie.datasource.query.type=incremental` on a
    * MERGE_ON_READ table. Two sides, no window:
    *  - log winners whose winning instant is in range (their ord
    *    rides the winner payload) — a key patched in range surfaces
    *    its merged value; a key whose winner is a delete stays
    *    invisible (standard incremental omits deletes);
    *  - base rows with `_hoodie_commit_time` in range that no log
    *    record ever touched (new-file-group inserts; compaction
    *    PRESERVES original commit times, so rewritten-but-unchanged
    *    rows stay invisible) — requires the commit-time meta column,
    *    refused when absent.
    * PRECOMBINE (event-time) tables: range membership is by the key's
    * last ARRIVAL instant (`_hml_arr` — a key is "changed in range"
    * when a log record for it landed there), but the EMITTED value is
    * the event-time merge outcome: the (precombine, arrival) winner
    * checked against the base row exactly like the snapshot read, so
    * a late-arriving lower-ordering record selects its key into the
    * range yet loses the merge — the stored row's value surfaces.
    * Mixed-width instants refuse (string-order hazard, as in
    * [[HudiCowLite.readIncremental]]). */
  def readIncremental(spark: SparkSession, tableDir: String,
                      beginInstant: String,
                      endInstant: Option[String] = None): DataFrame = {
    val snap = snapshot(spark, tableDir, endInstant)
    val end = snap.instant
    if (BigInt(beginInstant) >= BigInt(end))
      throw new IllegalArgumentException(
        s"$tableDir: beginInstant $beginInstant is not before the end " +
          s"instant $end — empty incremental range")
    val mp = buildMerge(spark, tableDir, snap)
    val MergeParts(base, winners, hasPartCol, names, hadLogs) = mp
    val CtCol = "_hoodie_commit_time"
    if (!base.columns.contains(CtCol)) throw new IllegalStateException(
      s"$tableDir: base files carry no $CtCol — cannot bound the " +
        "incremental read (populateMetaFields=false tables are " +
        "outside scope)")
    val widths = (snap.commits :+ beginInstant).map(_.length).distinct
    if (widths.size > 1) throw new IllegalStateException(
      s"$tableDir: timeline instants have mixed widths " +
        s"(${widths.sorted.mkString(", ")}) — string-ordered " +
        "incremental bounds would missort; outside HudiMorLite scope")
    val baseInRange = base
      .filter(col(CtCol) > lit(beginInstant) && col(CtCol) <= lit(end))
    if (!hadLogs) return baseInRange
    val PartCol = "_hoodie_partition_path"
    val joinCond =
      if (hasPartCol)
        base(PartCol) === col("_hml_part") &&
          base("_hoodie_record_key") === col("_hml_key")
      else base("_hoodie_record_key") === col("_hml_key")
    val untouched = baseInRange
      .join(winners.select(col("_hml_part"), col("_hml_key")),
        joinCond, "left_anti")
    // the ord strings are instant|version|block|record with the
    // instant zero-padded to 20 digits; range membership keys on the
    // key's LAST ARRIVAL (= the winner's own arrival when there is no
    // precombine field)
    val arrInstant = substring(col("_hml_arr"), 1, 20)
    val inRange = winners
      .filter(arrInstant > lit(f"${BigInt(beginInstant)}%020d") &&
        arrInstant <= lit(f"${BigInt(end)}%020d"))
    val changed = snap.precombineField match {
      case None =>
        inRange
          .filter(!col("_hml_top._hml_deleted"))
          .select(names.map(n => col(s"_hml_top.$n").as(n)): _*)
      case Some(pc) =>
        // event-time outcome per selected key: the (precombine,
        // arrival) winner replaces the base row only when it outranks
        // it — a losing winner (late lower-ordering arrival, or a
        // losing delete) surfaces the STORED row instead
        def pcGuard(c: Column, what: String): Column =
          when(c.isNull, raise_error(lit(
            s"HudiMorLite: $tableDir: a $what carries a NULL " +
              "precombine value — cannot event-time-order the merge")))
            .otherwise(c)
        val baseFull = base.select(
          (if (hasPartCol) base(PartCol)
           else lit(null).cast(StringType)).as("_hb_part") +:
            base("_hoodie_record_key").as("_hb_key") +:
            names.map(n => base(n).as(s"_hb_$n")): _*)
        val patchCond =
          if (hasPartCol)
            col("_hml_part") === col("_hb_part") &&
              col("_hml_key") === col("_hb_key")
          else col("_hml_key") === col("_hb_key")
        val winnerWins = col("_hb_key").isNull ||
          col(s"_hml_top.$pc") >= pcGuard(col(s"_hb_$pc"), "base row")
        inRange
          .join(baseFull, patchCond, "left")
          // a delete that WINS removes the key from the range's
          // output (standard incremental omits deletes); a delete
          // that LOSES leaves the stored row to surface
          .filter(!(col("_hml_top._hml_deleted") && winnerWins))
          .select(names.map(n =>
            when(winnerWins, col(s"_hml_top.$n"))
              .otherwise(col(s"_hb_$n")).as(n)): _*)
    }
    untouched.unionByName(changed)
  }

  /** CLUSTERING on MERGE_ON_READ (the insert-overwrite/clustering
    * replacecommit flow): materialize the SNAPSHOT view's merged rows
    * — upserts applied, winning deletes dropped, event-time ordering
    * honored — into `numFiles` fresh base files under new file groups
    * and publish one replacecommit replacing every prior group. The
    * logs' effects become visible to READ-OPTIMIZED consumers (the
    * operational point of compacting a MOR table), and the table's
    * current state carries no log files. Returns the new instant.
    *
    * Scale shape: ONE merged snapshot scan (the same plan as
    * [[read]]) + executor parquet write + O(files) renames + footer
    * reads and one JSON write. Single-writer scope. Multi-partition
    * tables pack per partition via the `_hoodie_partition_path` meta
    * column ([[HudiCowLite.clusterWrite]] — refusing when the merged
    * view lacks it). */
  def cluster(spark: SparkSession, tableDir: String,
              numFiles: Int = 1): String = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val snap = snapshot(spark, tableDir)
    val parts = snap.slices.map(_.partition).toSet
    val instant = HudiCowLite.mintInstant(tableDir, snap.commits,
      snap.instant)
    val moved = HudiCowLite.clusterWrite(spark, tableDir,
      read(spark, tableDir), parts, instant, numFiles)
    val byPart = moved.groupBy(_._1)
    val replacedByPart = snap.slices.groupBy(_.partition)
      .map { case (p, ss) => p -> ss.map(_.fileId).sorted }
    val partitions = (byPart.keySet ++ replacedByPart.keySet).toSeq.sorted
    graft.sources.AtomicFiles.write(
      new Path(tableDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new Path(tableDir, s".hoodie/$instant.replacecommit"),
      HudiCowLite.replaceCommitJson(partitions,
        p => replacedByPart.getOrElse(p, Nil),
        p => byPart.getOrElse(p, Nil).map(m => (m._2, m._3, m._4))),
      replace = false)
    instant
  }

  /** INLINE LOG COMPACTION — Hudi's MOR compaction proper (the
    * `<instant>.commit` a scheduled compaction completes as): every
    * file slice CARRYING LOGS folds its base + ordered log blocks
    * into ONE fresh base file under the SAME file group at a new
    * instant; groups without logs are untouched (unlike [[cluster]],
    * which rewrites every group into new ones under a
    * replacecommit). Merged rows keep their original per-record
    * `_hoodie_commit_time`, so incremental reads stay exact across
    * the compaction. Readers then serve the group base-only until new
    * logs arrive (the snapshot replay's base-write-starts-a-slice
    * rule). Returns the new instant.
    *
    * Scale shape: ONE distributed job for ALL log-carrying groups —
    * the merge runs with every row tagged by its file group id
    * (`keepGid`), one shuffle on that id packs each group into
    * exactly one staged file ([[HudiCowLite.writeGroups]] — the same
    * repartition+partitionBy shape [[DeltaLogLite.compact]] stages
    * with), and the driver handles only the O(groups) move pass +
    * footer row counts + one commit JSON. A thousand-slice table
    * compacts in one job, not a thousand. Groups whose every row died
    * in the logs advance to EMPTY bases via one staged empty parquet
    * FS-copied per dead group. Single-writer scope. Loud refusal when
    * NO slice carries logs (nothing to compact — the no-log rewrite
    * is clustering). */
  def compactLogs(spark: SparkSession, tableDir: String): String = {
    val snap = snapshot(spark, tableDir)
    val withLogs = snap.slices.filter(_.logs.nonEmpty)
    if (withLogs.isEmpty) throw new IllegalStateException(
      s"$tableDir: no file slice carries log files — nothing to " +
        "log-compact (pack base files with cluster() instead)")
    val instant = HudiCowLite.mintInstant(tableDir, snap.commits,
      snap.instant)
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the merged view of EXACTLY the log-carrying groups, every row
    // tagged with its file group id
    val merged = readSnapshot(spark, tableDir,
      snap.copy(slices = withLogs), keepGid = true)
    val gidToPart = withLogs.map(s => s.fileId -> s.partition).toMap
    val written = HudiCowLite.writeGroups(spark, tableDir, merged,
      gidToPart, instant)
    // fully-dead groups staged nothing: advance them to empty bases
    val writtenFids = written.map(_._2).toSet
    val empties = HudiCowLite.emptyBases(spark, tableDir, fs,
      org.apache.spark.sql.types.StructType(
        merged.schema.fields.filterNot(_.name == "_gid")),
      gidToPart.keySet.diff(writtenFids).toSeq.sorted, gidToPart,
      instant)
    HudiCowLite.commitJson(spark, tableDir, fs, instant,
      written ++ empties, Map.empty)
    instant
  }

  /** Render the base schema as the Avro record schema the appended
    * data blocks carry (all fields nullable unions — the exact shape
    * [[decodeAvroBlock]] reads back). Flat primitives only; a column
    * name that is not a legal Avro name refuses. */
  private def avroSchemaFor(names: Seq[String],
                            types: Seq[DataType]): String = {
    def jq(s: String) = "\"" + s + "\""
    val fields = names.zip(types).map { case (n, dt) =>
      if (!n.matches("[A-Za-z_][A-Za-z0-9_]*"))
        throw new IllegalStateException(
          s"column '$n' is not a legal Avro field name — outside " +
            "HudiMorLite write scope")
      val t = dt match {
        case LongType    => "long"
        case IntegerType => "int"
        case DoubleType  => "double"
        case FloatType   => "float"
        case StringType  => "string"
        case BooleanType => "boolean"
        case other => throw new IllegalStateException(
          s"column $n is ${other.simpleString} — log-block writes are " +
            "flat-primitive scope in HudiMorLite")
      }
      s"""{"name":${jq(n)},"type":["null","$t"],"default":null}"""
    }
    s"""{"type":"record","name":"r","fields":[${fields.mkString(",")}]}"""
  }

  /** Append ONE log block per touched slice, EXECUTOR-side: `rows`
    * arrive tagged with their target group (`_gid`), group on it, and
    * each group's records serialize into a single AVRO_DATA_BLOCK
    * (or DELETE_BLOCK) appended as the slice's next log file —
    * `.<fileId>_<baseInstant>.log.<maxVersion+1>`, INSTANT_TIME
    * header stamped so a later rollback can target the write. The
    * driver sees only the O(touched slices) write-stat list. Returns
    * (partition, fileId, relative log path, record count) per
    * written log — EMPTY (and nothing written) when `rows` is empty,
    * so callers can skip the commit. */
  private def appendRowBlocks(spark: SparkSession, tableDir: String,
                              snap: MorSnapshot, instant: String,
                              rows: DataFrame, names: Seq[String],
                              types: Seq[DataType], deleteMode: Boolean)
  : Seq[(String, String, String, Long)] = {
    val sliceInfo: Map[String, (String, String, Int)] =
      snap.slices.map(s => s.fileId ->
        ((s.partition, s.baseInstant,
          s.logs.map(_.version).foldLeft(0)(math.max) + 1))).toMap
    val schemaJson = if (deleteMode) null
      else avroSchemaFor(names, types)
    val hasOrdering = deleteMode && rows.columns.contains("_pcv")
    val infoB = spark.sparkContext.broadcast(sliceInfo)
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val tableDirB = tableDir
    val instantB = instant
    val namesL = names
    rows.rdd.map(r => (r.getString(r.fieldIndex("_gid")), r))
      .groupByKey()
      .map { case (gid, rs) =>
        val (part, baseInstant, ver) = infoB.value.getOrElse(gid,
          throw new IllegalStateException(
            s"$tableDirB: rows route to unknown file group $gid"))
        val rel = (if (part.isEmpty) "" else s"$part/") +
          s".${gid}_$baseInstant.log.$ver"
        val n =
          if (deleteMode) {
            var keys = Vector.empty[(String, Option[String])]
            var ords = Vector.empty[Any]
            rs.foreach { r =>
              keys :+= (r.getString(r.fieldIndex("_k")) -> Some(part))
              if (hasOrdering) ords :+= r.get(r.fieldIndex("_pcv"))
            }
            writeLogBlocks(s"$tableDirB/$rel",
              Seq(DeleteBlockSpec(keys,
                instantTime = Some(instantB), orderingVals = ords)),
              confB.value.value)
            keys.size
          } else {
            val recs = rs.iterator.map { r =>
              namesL.map(n2 => n2 -> r.get(r.fieldIndex(n2))).toMap
            }.toSeq
            writeLogBlocks(s"$tableDirB/$rel",
              Seq(AvroBlockSpec(schemaJson, recs,
                instantTime = Some(instantB))),
              confB.value.value)
            recs.size
          }
        (part, gid, rel, n.toLong)
      }.collect().toSeq.sortBy(_._2)
  }

  /** The shared write-path preamble: snapshot, minted instant, base
    * schema (names/types) and the key-column gate. */
  private def writePreamble(spark: SparkSession, tableDir: String)
  : (MorSnapshot, String, DataFrame, Seq[String], Seq[DataType]) = {
    val snap = snapshot(spark, tableDir)
    val instant = HudiCowLite.mintInstant(tableDir, snap.commits,
      snap.instant)
    val base0 = ColumnarScan(spark, tableDir, None,
      snap.slices.map(_.basePath))
    if (!base0.columns.contains("_hoodie_record_key"))
      throw new IllegalStateException(
        s"$tableDir: base files carry no _hoodie_record_key — " +
          "populateMetaFields=false tables are outside write scope")
    (snap, instant, base0, base0.schema.fieldNames.toSeq,
      base0.schema.fields.map(_.dataType).toSeq)
  }

  /** UPSERT by `_hoodie_record_key` — the MERGE_ON_READ write path
    * (Hudi's cheap-mutation point: a log-block APPEND, never a base
    * rewrite): each update key's records land as ONE
    * AVRO_DATA_BLOCK appended to its current slice's log at a fresh
    * deltacommit; keys NEW to the table append to their partition's
    * first (smallest-fileId) slice — a log record whose key is
    * absent from the base is the format's log-borne insert, served
    * by the standard merge. Precombine tables order by the updates'
    * own event-time column (a lower-ordering update loses to the
    * stored row — DefaultHoodieRecordPayload semantics, exactly what
    * the read serves). Returns the new instant.
    *
    * Scale shape: ONE routing join of the updates against the merged
    * key→group view, then one shuffle on the target group id with
    * the block writes running EXECUTOR-side ([[appendRowBlocks]]) —
    * the driver handles the bounded write-stat list and one
    * deltacommit JSON. Single-writer scope. Loud refusals: duplicate
    * keys in one batch / a key living in multiple groups (the COW
    * upsert's ambiguity contract), a NEW key routing to a partition
    * with no file slice, missing data columns, non-flat-primitive
    * schemas. */
  def upsert(spark: SparkSession, tableDir: String,
             updates: DataFrame): String = {
    import spark.implicits._
    val (snap, instant, base0, names, types) =
      writePreamble(spark, tableDir)
    val key = "_hoodie_record_key"
    if (!updates.columns.contains(key)) throw new IllegalStateException(
      s"$tableDir: upsert input carries no $key column")
    val dataCols = names.filterNot(HudiCowLite.MetaColumns)
    val missing = dataCols.filterNot(updates.columns.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"$tableDir: upsert input lacks data columns " +
        missing.mkString(", "))
    avroSchemaFor(names, types): Unit // gate types/names up front
    val view = readSnapshot(spark, tableDir, snap, keepGid = true)
    val routed = updates.join(
      view.select(col(key).as("_uk"), col("_gid")),
      updates(key) === col("_uk"), "left").drop("_uk")
    val ambiguous = routed.groupBy(col(key))
      .agg(count(lit(1)).as("_nrows"),
        countDistinct(col("_gid")).as("_ngroups"))
      .filter(col("_nrows") > 1)
      .select(col(key), col("_ngroups")).limit(1).collect()
    ambiguous.headOption.foreach { r =>
      if (r.getLong(1) > 1L) throw new IllegalStateException(
        s"$tableDir: record key ${r.get(0)} lives in MULTIPLE file " +
          "groups (record keys are only unique per partition under " +
          "the non-global index) — a key-only upsert would patch " +
          "every matching group; route by partition instead")
      else throw new IllegalStateException(
        s"$tableDir: upsert batch has DUPLICATE record keys " +
          s"(e.g. ${r.get(0)}) — last-writer order would be ambiguous")
    }
    val parts = snap.slices.map(_.partition).distinct
    val multi = parts.size > 1
    if (multi && !updates.columns.contains("_hoodie_partition_path"))
      throw new IllegalStateException(
        s"$tableDir: ${parts.size} partitions but the upsert input " +
          "has no _hoodie_partition_path — cannot route NEW keys")
    val firstSlice: Map[String, String] = snap.slices
      .groupBy(_.partition).map { case (p, ss) =>
        p -> ss.map(_.fileId).min }
    val newPartExpr =
      if (multi) col("_hoodie_partition_path")
      else lit(parts.headOption.getOrElse(""))
    val newParts = routed.where(col("_gid").isNull)
      .select(newPartExpr.as("_p")).distinct().as[String]
      .collect().sorted
    newParts.foreach { p =>
      if (p == null || !firstSlice.contains(p))
        throw new IllegalStateException(
          s"$tableDir: a NEW key routes to partition " +
            s"'${Option(p).getOrElse("<null>")}' which has no file " +
            "slice to host its log — outside MOR upsert scope")
    }
    val newFidDf = newParts.toSeq.map(p => (p, firstSlice(p)))
      .toDF("_n_part", "_n_fid")
    val withGid = routed.withColumn("_n_part", newPartExpr)
      .join(broadcast(newFidDf), Seq("_n_part"), "left")
      .withColumn("_gid", coalesce(col("_gid"), col("_n_fid")))
      .drop("_n_part", "_n_fid")
    val gidPartDf = snap.slices.map(s => (s.fileId, s.partition))
      .toDF("_gid", "_g_part")
    val stamped = withGid.join(broadcast(gidPartDf), Seq("_gid"))
      .select(names.map {
        case "_hoodie_commit_time" =>
          lit(instant).as("_hoodie_commit_time")
        case `key` => col(key).cast(StringType).as(key)
        case "_hoodie_partition_path" =>
          col("_g_part").as("_hoodie_partition_path")
        case "_hoodie_commit_seqno" =>
          lit(s"${instant}_0_0").as("_hoodie_commit_seqno")
        case "_hoodie_file_name" => concat(col("_gid"),
          lit(s"_0-0_$instant")).as("_hoodie_file_name")
        case c => col(c).cast(types(names.indexOf(c))).as(c)
      } :+ col("_gid"): _*)
    val written = appendRowBlocks(spark, tableDir, snap, instant,
      stamped, names, types, deleteMode = false)
    if (written.isEmpty) return snap.instant
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiCowLite.commitJson(spark, tableDir, fs, instant, written,
      Map.empty, kind = "deltacommit")
    instant
  }

  /** ROW-LEVEL DELETE by predicate on MERGE_ON_READ — a
    * DELETE_BLOCK append per touched slice (what a Spark-SQL
    * `DELETE FROM` writes on a MOR table), never a base rewrite:
    * rows matching `condition` on the SNAPSHOT view die as hard
    * deletes in their slice's next log file. Precombine tables stamp
    * each delete's orderingVal with the dying row's OWN event-time
    * value — ties go to the incoming record, so the delete wins at
    * the stored row's ordering, exactly the published
    * DefaultHoodieRecordPayload fold (a row whose precombine value
    * is 0 refuses through the reader's natural-order gate). Returns
    * the new instant — the CURRENT one, with no commit, when nothing
    * matched. Scale shape and refusal envelope shared with
    * [[upsert]]. */
  def delete(spark: SparkSession, tableDir: String,
             condition: Column): String = {
    val (snap, instant, _, _, _) = writePreamble(spark, tableDir)
    val view = readSnapshot(spark, tableDir, snap, keepGid = true)
    val matched = view.filter(condition).select(
      Seq(col("_hoodie_record_key").as("_k"), col("_gid")) ++
        snap.precombineField.map(pc => col(pc).as("_pcv")): _*)
    val written = appendRowBlocks(spark, tableDir, snap, instant,
      matched, Nil, Nil, deleteMode = true)
    if (written.isEmpty) return snap.instant
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiCowLite.commitJson(spark, tableDir, fs, instant, written,
      Map.empty, kind = "deltacommit")
    instant
  }

  /** ROW-LEVEL UPDATE by predicate on MERGE_ON_READ: rows matching
    * `condition` on the SNAPSHOT view rewrite with `set` applied and
    * append as data blocks to their OWN slices' logs (their group
    * assignment never moves — the merge keys on (partition, key)).
    * SET on a hoodie meta column or an unknown column refuses; SET
    * on the precombine column keeps the format's event-time
    * semantics (a lowered value loses to the stored row). Returns
    * the new instant — the CURRENT one, with no commit, when nothing
    * matched. */
  def update(spark: SparkSession, tableDir: String, condition: Column,
             set: Map[String, Column]): String = {
    val (snap, instant, base0, names, types) =
      writePreamble(spark, tableDir)
    require(set.nonEmpty, "update needs at least one SET column")
    set.keys.foreach { c =>
      if (!names.contains(c)) throw new IllegalStateException(
        s"$tableDir: SET column $c is not in the schema")
      if (HudiCowLite.MetaColumns.contains(c))
        throw new IllegalStateException(
          s"$tableDir: SET touches hoodie meta column $c — outside " +
            "update scope")
    }
    val view = readSnapshot(spark, tableDir, snap, keepGid = true)
    val matched = view.filter(condition)
    val updated = set.foldLeft(matched) { case (df, (c, e)) =>
      df.withColumn(c, e.cast(types(names.indexOf(c))))
    }
    val stamped = updated.select(names.map {
      case "_hoodie_commit_time" =>
        lit(instant).as("_hoodie_commit_time")
      case "_hoodie_commit_seqno" =>
        lit(s"${instant}_0_0").as("_hoodie_commit_seqno")
      case c => col(c)
    } :+ col("_gid"): _*)
    val written = appendRowBlocks(spark, tableDir, snap, instant,
      stamped, names, types, deleteMode = false)
    if (written.isEmpty) return snap.instant
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiCowLite.commitJson(spark, tableDir, fs, instant, written,
      Map.empty, kind = "deltacommit")
    instant
  }
}
