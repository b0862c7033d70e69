package graft.sources

import java.io.FileNotFoundException

import scala.collection.mutable

import graft.sources.LakeFiles.{jstr, uriEncode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Read-only Delta-log table reader implemented from the PUBLIC Delta
  * transaction-log protocol (delta.io PROTOCOL.md): a table directory
  * holds `_delta_log/<20-digit version>.json` commit files, each a
  * sequence of newline-delimited JSON actions. Replaying `metaData`
  * (last one wins — carries the Spark-JSON `schemaString` and
  * `partitionColumns`), `add` (a live parquet file + its
  * `partitionValues`) and `remove` (tombstones an earlier add) in
  * version order yields the snapshot file set.
  *
  * This is the lakehouse-interop leg of the reference's table-format
  * providers (reference: thirdparty/auron-iceberg/.../
  * IcebergConvertProvider.scala — the reference plugs Iceberg/Hudi/
  * Paimon scans into its engine). Spark-first split of labor:
  *  - SNAPSHOT RESOLUTION (log replay) is bounded plan-time metadata
  *    work, like q249's IVF cell-id resolution — the log is thousands
  *    of small JSON lines, never fact-sized;
  *  - DATA READING stays Spark's native vectorized parquet source
  *    (one `spark.read.schema(...).parquet(files…)` per partition
  *    tuple), so predicate pushdown, column pruning and whole-stage
  *    codegen are untouched — a hand-rolled DSv2 FileTable would have
  *    to re-earn all three.
  *
  * Checkpoints (PROTOCOL.md "Checkpoints"): when `_last_checkpoint`
  * names version N, the snapshot state is loaded from the checkpoint
  * parquet (single-file `N.checkpoint.parquet` or the multi-part
  * `N.checkpoint.<i>.<parts>.parquet` series) and only JSON commits
  * AFTER N are replayed — this is what makes log replay bounded on a
  * long-lived table whose early JSON commits have been vacuumed. A
  * `versionAsOf` BEFORE the checkpoint falls back to replay-from-zero
  * and loudly fails if those early commits are gone.
  *
  * V2 CHECKPOINTS (PROTOCOL.md "V2 Spec Checkpoints" — what modern
  * writers increasingly default to) are READ: when the classic names
  * are absent, the UUID-named `N.checkpoint.<u>.{json,parquet}`
  * MANIFEST supplies the non-file actions plus `sidecar` actions
  * naming parquet files under `_delta_log/_sidecars/` that carry the
  * add/remove state; the manifest's required
  * `checkpointMetadata.version` is verified against N and a missing
  * sidecar refuses loudly (reading without it would silently drop
  * live files). Checkpoint-carried `txn` history (exactly-once dedup)
  * is read from the manifest on this path too.
  *
  * Lite scope, loud failures (never silent wrong answers):
  *  - a GAP in the version sequence (from the replay base) throws;
  *  - malformed `_last_checkpoint`/action JSON, a missing checkpoint
  *    part, or a missing `metaData` throws with the file named.
  *
  * COLUMN MAPPING (PROTOCOL.md "Column Mapping"): BOTH modes are READ.
  * Mode `name` — each schema field's metadata names its physical
  * parquet column (`delta.columnMapping.physicalName`, typically
  * `col-<uuid>`), so data files are read under the PHYSICAL schema and
  * projected back to logical names. Mode `id` — data columns resolve
  * by PARQUET FIELD ID (`delta.columnMapping.id` stamped as
  * `parquet.field.id` on the read schema, the same Spark machinery
  * IcebergLite rides; id-mode writers stamp the ids into their
  * footers, and an id-less file fails loudly). In both modes
  * `add.partitionValues` keys (physical, per the protocol) resolve
  * through the physicalName map. Nested columns under mapping stay
  * refused.
  *
  * PROTOCOL GATING (PROTOCOL.md "Protocol Evolution"): the snapshot's
  * latest `protocol` action is tracked through both the checkpoint and
  * the JSON replay, and the table is REFUSED when reading it correctly
  * would require a capability this reader lacks:
  *  - `minReaderVersion` 2 (column mapping) is allowed — see above;
  *  - `minReaderVersion` 3 (table features) is allowed only when every
  *    listed `readerFeatures` entry is in [[supportedReaderFeatures]] —
  *    `timestampNtz` (Spark's parquet reader handles TIMESTAMP_NTZ
  *    natively), `vacuumProtocolCheck` (a vacuum-time writer
  *    obligation; PROTOCOL.md says readers need no special handling)
  *    and `columnMapping` (read via the physical-name projection);
  *  - DELETION VECTORS are READ (see below) — an `add` whose
  *    descriptor this reader cannot decode fails loudly (magic/CRC
  *    checked), never silently resurrects rows;
  *  - `metaData.configuration["delta.columnMapping.mode"]` other than
  *    `none`/`name`/`id` is refused.
  * A table with NO protocol action (pre-protocol fixtures) is treated
  * as reader version 1, which is exactly what such a log means.
  *
  * DELETION VECTORS (PROTOCOL.md "Deletion Vectors"): an `add` may
  * carry a descriptor naming a roaring-bitmap file of dead row
  * ordinals. ALL THREE storage types are read: `u` (table-relative
  * `deletion_vector_<uuid>.bin`, uuid base85/RFC-1924-encoded in the
  * descriptor), `p` (absolute path), and `i` (INLINE — the payload
  * itself travels base85-encoded in pathOrInlineDv, no file framing,
  * length pinned by sizeInBytes). The DV file framing follows the
  * published layout —
  * [1-byte version][4-byte big-endian size][4-byte little-endian
  * magic 1681511377][RoaringBitmapArray portable: 8-byte LE bitmap
  * count, then per bitmap a 4-byte LE key + a standard 32-bit
  * roaring bitmap][4-byte CRC32] — with the version, magic, size and
  * checksum ALL verified, so a layout this reader mis-guessed fails
  * loudly instead of returning wrong rows. Bitmap decode runs
  * EXECUTOR-SIDE (a flatMap over the bounded descriptor list emits
  * (file, ordinal) rows lazily through the library's iterator), so a
  * billion dead rows never materialize on the driver; the dead set
  * then LEFT ANTI-joins the scan on
  * (`_metadata.file_path`, `_metadata.row_index`) exactly like the
  * Iceberg positional-delete path.
  */
object DeltaLogLite {

  /** A live file's deletion-vector descriptor (PROTOCOL.md "Deletion
    * Vector Descriptor Schema"). */
  final case class DvDescriptor(storageType: String, pathOrInlineDv: String,
                                offset: Long, sizeInBytes: Int,
                                cardinality: Long)

  /** `stats` is the add action's RAW statistics JSON string when the
    * writer recorded one — kept unparsed (the replay must not pay a
    * per-add JSON parse for a field only the DV writers read, and
    * only for their O(affected) files). */
  final case class AddFile(path: String, partitionValues: Map[String, String],
                           deletionVector: Option[DvDescriptor] = None,
                           stats: Option[String] = None)

  /** The add-stats `numRecords`, if `stats` parses and carries one —
    * malformed stats fall back to None (the caller footer-reads), a
    * stats string is advisory, never a refusal. */
  private def statsNumRecords(f: AddFile): Option[Long] =
    f.stats.flatMap { s =>
      try (JsonMethods.parse(s) \ "numRecords").extractOpt[Long]
      catch { case _: Exception => None }
    }

  /** Parse an action's `deletionVector` JSON (absent/null → None) —
    * shared by the snapshot replay and the change-feed synthesis
    * (remove actions carry the removed file's descriptor too). */
  private def parseDvJson(d: JValue): Option[DvDescriptor] = d match {
    case JNothing | JNull => None
    case dv => Some(DvDescriptor(
      (dv \ "storageType").extract[String],
      (dv \ "pathOrInlineDv").extract[String],
      // an ABSENT offset means the file holds a single DV whose data
      // starts right after the 1-byte version — i.e. offset 1 per the
      // protocol's on-disk layout
      (dv \ "offset").extractOpt[Long].getOrElse(1L),
      (dv \ "sizeInBytes").extract[Int],
      (dv \ "cardinality").extract[Long]))
  }

  final case class Snapshot(version: Long, schema: StructType,
                            partitionColumns: Seq[String], files: Seq[AddFile],
                            physicalNames: Map[String, String] = Map.empty,
                            configuration: Map[String, String] = Map.empty,
                            fieldIds: Map[String, Long] = Map.empty,
                            minReaderVersion: Int = 1,
                            readerFeatures: Set[String] = Set.empty,
                            minWriterVersion: Int = 2,
                            writerFeatures: Set[String] = Set.empty)

  private final case class Protocol(minReaderVersion: Int,
                                    readerFeatures: Set[String],
                                    minWriterVersion: Int = 2,
                                    writerFeatures: Set[String] =
                                      Set.empty)

  /** Reader features this lite reader genuinely satisfies; anything
    * else is a loud refusal, never a silent wrong answer.
    * `v2Checkpoint` is READ — see [[loadCheckpoint]]'s manifest +
    * sidecar path. */
  private val supportedReaderFeatures = Set("timestampNtz",
    "vacuumProtocolCheck", "columnMapping", "deletionVectors",
    "v2Checkpoint")

  private def gateProtocol(tableDir: String, p: Protocol): Unit = {
    val ok = p.minReaderVersion <= 2 ||
      (p.minReaderVersion == 3 &&
        (p.readerFeatures -- supportedReaderFeatures).isEmpty)
    if (!ok) throw new IllegalStateException(
      s"$tableDir: unsupported Delta reader protocol " +
        s"(minReaderVersion=${p.minReaderVersion}" +
        (if (p.readerFeatures.nonEmpty)
          s", readerFeatures=${p.readerFeatures.toSeq.sorted.mkString(",")}"
        else "") +
        ") — DeltaLogLite reads reader-version-1/2 tables, plus " +
        "version-3 tables whose readerFeatures all fall in " +
        supportedReaderFeatures.toSeq.sorted.mkString("{", ",", "}"))
  }

  /** Resolve the column-mapping surfaces for the table's mode:
    * (logical→physical names, logical→field ids). `none` → both
    * empty; `name` → physical names only (data columns rename);
    * `id` → BOTH: partitionValues stay keyed by physical name per the
    * protocol, while data columns resolve by PARQUET FIELD ID (the
    * same Spark field-id machinery IcebergLite rides — id-mode
    * writers stamp `parquet.field.id` into their footers). Nested
    * columns (whose inner names/ids would also be mapped) and fields
    * missing the metadata refuse. */
  private def columnMapping(tableDir: String, schema: StructType,
                            configuration: Map[String, String])
  : (Map[String, String], Map[String, Long]) = {
    def hasStruct(dt: DataType): Boolean = dt match {
      case _: StructType => true
      case a: org.apache.spark.sql.types.ArrayType =>
        hasStruct(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasStruct(m.keyType) || hasStruct(m.valueType)
      case _ => false
    }
    val mode = configuration.get("delta.columnMapping.mode")
    def physNames(): Map[String, String] = {
      val key = "delta.columnMapping.physicalName"
      schema.fields.map { f =>
        if (hasStruct(f.dataType)) throw new IllegalStateException(
          s"$tableDir: column ${f.name} is nested under " +
            s"columnMapping.mode=${mode.get} — inner physical names " +
            "are outside DeltaLogLite scope")
        if (!f.metadata.contains(key)) throw new IllegalStateException(
          s"$tableDir: columnMapping.mode=${mode.get} but field " +
            s"${f.name} carries no physicalName metadata — malformed " +
            "table")
        f.name -> f.metadata.getString(key)
      }.toMap
    }
    mode match {
      case None | Some("none") => (Map.empty, Map.empty)
      case Some("name") => (physNames(), Map.empty)
      case Some("id") =>
        val key = "delta.columnMapping.id"
        val ids = schema.fields.map { f =>
          if (!f.metadata.contains(key)) throw new IllegalStateException(
            s"$tableDir: columnMapping.mode=id but field ${f.name} " +
              "carries no delta.columnMapping.id metadata — malformed " +
              "table")
          f.name -> f.metadata.getLong(key)
        }.toMap
        (physNames(), ids)
      case Some(m) =>
        throw new IllegalStateException(
          s"$tableDir: delta.columnMapping.mode=$m is not supported — " +
            "none/name/id are in DeltaLogLite scope")
    }
  }

  private implicit val fmts: Formats = DefaultFormats

  /** `_last_checkpoint` content: checkpoint version + part count. */
  private def lastCheckpoint(fs: org.apache.hadoop.fs.FileSystem,
                             logDir: Path,
                             tableDir: String): Option[(Long, Option[Int])] = {
    val p = new Path(logDir, "_last_checkpoint")
    if (!fs.exists(p)) None
    else {
      val text = LakeFiles.readText(fs, p)
      val json = try JsonMethods.parse(text)
        catch { case e: Exception => throw new IllegalStateException(
          s"$tableDir: malformed _last_checkpoint: ${e.getMessage}")
        }
      val v = (json \ "version").extractOpt[Long].getOrElse(
        throw new IllegalStateException(
          s"$tableDir: _last_checkpoint without a version"))
      Some(v -> (json \ "parts").extractOpt[Int])
    }
  }

  /** Absorb metaData / protocol / add actions from one
    * checkpoint-shaped parquet DataFrame (a classic checkpoint, a v2
    * manifest, or v2 sidecars — all share the column-per-action-type
    * layout). `remove` rows are expired tombstones kept for vacuum
    * only — not live state. Driver-side collect is bounded by the
    * table's FILE count (log grain), same as the JSON replay. */
  private def absorbCheckpointFrame(df: DataFrame,
                                    live: mutable.LinkedHashMap[String,
                                      AddFile])
  : (Option[StructType], Seq[String], Map[String, String],
     Option[Protocol]) = {
    def nested(top: String, field: String): Boolean =
      df.schema.find(_.name == top).map(_.dataType).exists {
        case s: StructType => s.fieldNames.contains(field)
        case _             => false
      }
    val cols = df.columns.toSet
    var schema: Option[StructType] = None
    var partCols: Seq[String] = Nil
    var conf: Map[String, String] = Map.empty
    var protocol: Option[Protocol] = None
    if (cols.contains("metaData")) {
      val confCol =
        if (nested("metaData", "configuration")) col("metaData.configuration")
        else lit(null).cast("map<string,string>")
      val metas = df.select(col("metaData.schemaString"),
          col("metaData.partitionColumns"), confCol)
        .where(col("metaData.schemaString").isNotNull).collect()
      metas.lastOption.foreach { r =>
        schema = Some(DataType.fromJson(r.getString(0))
          .asInstanceOf[StructType])
        partCols = Option(r.getSeq[String](1)).getOrElse(Nil)
        conf = Option(r.getMap[String, String](2))
          .map(_.toMap).getOrElse(Map.empty)
      }
    }
    if (cols.contains("protocol") && nested("protocol", "minReaderVersion")) {
      val featCol =
        if (nested("protocol", "readerFeatures"))
          col("protocol.readerFeatures")
        else lit(null).cast("array<string>")
      val mwvCol =
        if (nested("protocol", "minWriterVersion"))
          col("protocol.minWriterVersion")
        else lit(null).cast("int")
      val wFeatCol =
        if (nested("protocol", "writerFeatures"))
          col("protocol.writerFeatures")
        else lit(null).cast("array<string>")
      val ps = df.select(col("protocol.minReaderVersion"), featCol,
          mwvCol, wFeatCol)
        .where(col("protocol.minReaderVersion").isNotNull).collect()
      ps.lastOption.foreach { r =>
        protocol = Some(Protocol(r.getInt(0),
          Option(r.getSeq[String](1)).getOrElse(Nil).toSet,
          if (r.isNullAt(2)) 2 else r.getInt(2),
          Option(r.getSeq[String](3)).getOrElse(Nil).toSet))
      }
    }
    if (cols.contains("add")) {
      val dvT = "struct<storageType:string,pathOrInlineDv:string," +
        "offset:bigint,sizeInBytes:int,cardinality:bigint>"
      val dvCol =
        if (nested("add", "deletionVector"))
          col("add.deletionVector").cast(dvT)
        else lit(null).cast(dvT)
      val statsCol =
        if (nested("add", "stats")) col("add.stats").cast("string")
        else lit(null).cast("string")
      df.select(col("add.path"), col("add.partitionValues"), dvCol,
          statsCol)
        .where(col("add.path").isNotNull).collect()
        .foreach { r =>
          val dv = Option(r.getStruct(2)).map { d =>
            // null offset = single-DV file, data at offset 1 (after
            // the version byte) — same rule as the JSON replay
            DvDescriptor(d.getString(0), d.getString(1),
              Option(d.get(2)).map(_.asInstanceOf[Long]).getOrElse(1L),
              d.getInt(3), d.getLong(4))
          }
          val pv = Option(r.getMap[String, String](1))
            .map(_.toMap).getOrElse(Map.empty[String, String])
          live(r.getString(0)) = AddFile(r.getString(0), pv, dv,
            Option(r.getString(3)))
        }
    }
    (schema, partCols, conf, protocol)
  }

  /** The version-N checkpoint's V2 manifest file, if the classic
    * parquet names are absent (PROTOCOL.md "V2 Spec Checkpoints": a
    * UUID-named `N.checkpoint.<u>.{json,parquet}` manifest whose
    * `sidecar` actions name parquet files under `_delta_log/_sidecars/`
    * carrying the file actions). Several manifests for one version are
    * equivalent per the spec; the lexicographically last is picked for
    * determinism. */
  private def v2Manifest(fs: org.apache.hadoop.fs.FileSystem,
                         tableDir: String, version: Long): Option[Path] = {
    val logDir = new Path(tableDir, "_delta_log")
    val re = (f"$version%020d\\.checkpoint\\.[A-Za-z0-9-]+" +
      "\\.(parquet|json)").r
    fs.listStatus(logDir).toSeq.map(_.getPath)
      .filter(p => re.pattern.matcher(p.getName).matches())
      .sortBy(_.getName).lastOption
  }

  /** Load net snapshot state (metaData + live adds) from the version-N
    * checkpoint: the classic single-file / multi-part parquet names,
    * or — when those are absent — the V2 UUID-named manifest + its
    * sidecars, with the manifest's `checkpointMetadata.version`
    * verified and every named sidecar required to exist (a missing
    * sidecar would silently drop live files). */
  private def loadCheckpoint(spark: SparkSession, tableDir: String,
                             version: Long, parts: Option[Int],
                             live: mutable.LinkedHashMap[String, AddFile])
  : (Option[StructType], Seq[String], Map[String, String],
     Option[Protocol]) = {
    val fs = new Path(tableDir, "_delta_log")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = parts match {
      case Some(n) => (1 to n).map(i =>
        f"$version%020d.checkpoint.$i%010d.$n%010d.parquet")
      case None => Seq(f"$version%020d.checkpoint.parquet")
    }
    val paths = names.map(n => s"$tableDir/_delta_log/$n")
    if (paths.forall(p => fs.exists(new Path(p)))) {
      val df = try spark.read.parquet(paths: _*)
        catch { case e: Exception => throw new IllegalStateException(
          s"$tableDir: checkpoint $version unreadable " +
            s"(${names.mkString(", ")}): ${e.getMessage}")
        }
      return absorbCheckpointFrame(df, live)
    }
    // classic names absent: a multi-part checkpoint with SOME parts
    // missing is corrupt, not v2 — refuse by name
    if (parts.exists(n => paths.exists(p => fs.exists(new Path(p)))))
      throw new IllegalStateException(
        s"$tableDir: multi-part checkpoint $version is missing parts " +
          s"(expected ${names.mkString(", ")})")
    val manifest = v2Manifest(fs, tableDir, version).getOrElse(
      throw new IllegalStateException(
        s"$tableDir: checkpoint $version unreadable — neither the " +
          s"classic names (${names.mkString(", ")}) nor a v2 " +
          "UUID-named manifest exist"))
    loadV2Checkpoint(spark, tableDir, version, manifest, live)
  }

  /** Read a V2 checkpoint: manifest (parquet or json) → non-file
    * actions + sidecar names; sidecar parquets → file actions. */
  private def loadV2Checkpoint(spark: SparkSession, tableDir: String,
                               version: Long, manifest: Path,
                               live: mutable.LinkedHashMap[String, AddFile])
  : (Option[StructType], Seq[String], Map[String, String],
     Option[Protocol]) = {
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var state: (Option[StructType], Seq[String], Map[String, String],
      Option[Protocol]) = (None, Nil, Map.empty, None)
    var sidecars = Vector.empty[String]
    var ckptVersion: Option[Long] = None
    if (manifest.getName.endsWith(".json")) {
      val text = LakeFiles.readText(fs, manifest)
      var schema: Option[StructType] = None
      var partCols: Seq[String] = Nil
      var conf: Map[String, String] = Map.empty
      var protocol: Option[Protocol] = None
      for (line <- text.linesIterator if line.trim.nonEmpty) {
        val action = try JsonMethods.parse(line)
          catch { case e: Exception => throw new IllegalStateException(
            s"$manifest: malformed action JSON (${e.getMessage})")
          }
        (action \ "checkpointMetadata" \ "version").extractOpt[Long]
          .foreach(v => ckptVersion = Some(v))
        (action \ "sidecar" \ "path").extractOpt[String]
          .foreach(p => sidecars :+= p)
        (action \ "metaData") match {
          case JNothing =>
          case md =>
            schema = (md \ "schemaString").extractOpt[String]
              .map(s => DataType.fromJson(s).asInstanceOf[StructType])
            partCols = (md \ "partitionColumns")
              .extractOpt[Seq[String]].getOrElse(Nil)
            conf = (md \ "configuration")
              .extractOpt[Map[String, String]].getOrElse(Map.empty)
        }
        (action \ "protocol") match {
          case JNothing =>
          case pr => protocol = Some(Protocol(
            (pr \ "minReaderVersion").extractOpt[Int].getOrElse(1),
            (pr \ "readerFeatures").extractOpt[Seq[String]]
              .getOrElse(Nil).toSet,
            (pr \ "minWriterVersion").extractOpt[Int].getOrElse(2),
            (pr \ "writerFeatures").extractOpt[Seq[String]]
              .getOrElse(Nil).toSet))
        }
        (action \ "add") match {
          case JNothing =>
          case add =>
            val path = (add \ "path").extract[String]
            val dv = parseDvJson(add \ "deletionVector")
            live(path) = AddFile(path, (add \ "partitionValues")
              .extractOpt[Map[String, String]].getOrElse(Map.empty), dv,
              (add \ "stats").extractOpt[String])
        }
      }
      state = (schema, partCols, conf, protocol)
    } else {
      val df = spark.read.parquet(manifest.toString)
      if (df.columns.contains("checkpointMetadata")) {
        ckptVersion = df.select(col("checkpointMetadata.version"))
          .where(col("checkpointMetadata.version").isNotNull)
          .collect().headOption.map(_.getLong(0))
      }
      if (df.columns.contains("sidecar")) {
        sidecars = df.select(col("sidecar.path"))
          .where(col("sidecar.path").isNotNull)
          .collect().map(_.getString(0)).toVector
      }
      state = absorbCheckpointFrame(df, live)
    }
    // the manifest must declare itself (checkpointMetadata is REQUIRED
    // in v2) and agree with the version its name claims
    if (!ckptVersion.contains(version)) throw new IllegalStateException(
      s"$manifest: v2 checkpoint manifest " +
        ckptVersion.map(v => s"declares version $v")
          .getOrElse("lacks the required checkpointMetadata action") +
        s" — expected version $version")
    if (sidecars.nonEmpty) {
      // sidecar `path` is URI-encoded and MAY be absolute per the
      // spec; bare names resolve under _delta_log/_sidecars. Foreign
      // schemes refuse like everywhere else.
      val sidecarPaths = sidecars.map { raw =>
        val uri = try new java.net.URI(raw)
          catch { case e: java.net.URISyntaxException =>
            throw new IllegalStateException(
              s"$tableDir: undecodable sidecar path $raw " +
                s"(${e.getMessage})")
          }
        Option(uri.getScheme).filter(_ != "file").foreach { s =>
          throw new IllegalStateException(
            s"$tableDir: sidecar $raw has unsupported scheme '$s://' — " +
              "only file:// and relative names are in scope")
        }
        val decoded = uri.getPath
        val abs =
          if (decoded.startsWith("/")) decoded
          else s"$tableDir/_delta_log/_sidecars/$decoded"
        if (!fs.exists(new Path(abs))) throw new IllegalStateException(
          s"$tableDir: v2 checkpoint $version names sidecar $raw but " +
            s"$abs does not exist — reading without " +
            "it would silently drop live files")
        abs
      }
      // sidecars carry only file actions; metaData/protocol stay the
      // manifest's
      absorbCheckpointFrame(
        spark.read.parquet(sidecarPaths: _*), live): Unit
    }
    state
  }

  /** Replay the log up to (and including) `versionAsOf`, or fully. */
  def snapshot(spark: SparkSession, tableDir: String,
               versionAsOf: Option[Long] = None): Snapshot = {
    val logDir = new Path(tableDir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits =
      try fs.listStatus(logDir).toSeq.map(_.getPath)
        .filter(_.getName.matches("\\d{20}\\.json"))
        .map(p => p.getName.stripSuffix(".json").toLong -> p)
        .sortBy(_._1)
      catch { case _: FileNotFoundException =>
        throw new IllegalStateException(s"$tableDir has no _delta_log")
      }
    val ckpt = lastCheckpoint(fs, logDir, tableDir)

    var schema: Option[StructType] = None
    var partCols: Seq[String] = Nil
    var conf: Map[String, String] = Map.empty
    var protocol: Option[Protocol] = None
    val live = mutable.LinkedHashMap.empty[String, AddFile]

    // replay base: the checkpoint when it serves the asked version,
    // else version -1 (full JSON replay, e.g. versionAsOf < checkpoint)
    val base: Long = ckpt match {
      case Some((cv, parts)) if versionAsOf.forall(_ >= cv) =>
        val (s0, p0, c0, pr0) = loadCheckpoint(spark, tableDir, cv, parts, live)
        schema = s0; partCols = p0; conf = c0; protocol = pr0
        cv
      case _ => -1L
    }

    val after = commits.filter(_._1 > base)
    val wanted = versionAsOf match {
      case Some(v) =>
        if (v != base && !after.exists(_._1 == v))
          throw new IllegalArgumentException(
            s"$tableDir: no commit for versionAsOf=$v" +
              (if (ckpt.isDefined && base < 0)
                " (predates the checkpoint and its JSON commit is gone)"
              else ""))
        after.takeWhile(_._1 <= v)
      case None => after
    }
    if (base < 0 && wanted.isEmpty)
      throw new IllegalStateException(s"$tableDir: empty _delta_log")
    wanted.map(_._1).zipWithIndex.foreach { case (v, i) =>
      if (v != base + 1 + i) throw new IllegalStateException(
        s"$tableDir: version gap — expected commit ${base + 1 + i}, found $v")
    }

    for ((v, p) <- wanted) {
      val text = LakeFiles.readText(fs, p)
      for (line <- text.linesIterator if line.trim.nonEmpty) {
        val action = try JsonMethods.parse(line)
          catch { case e: Exception => throw new IllegalStateException(
            s"$tableDir commit $v: malformed action JSON: " +
              s"${line.take(80)} (${e.getMessage})")
          }
        (action \ "metaData") match {
          case JNothing =>
          case md =>
            val ss = (md \ "schemaString").extractOpt[String].getOrElse(
              throw new IllegalStateException(
                s"$tableDir commit $v: metaData without schemaString"))
            schema = Some(DataType.fromJson(ss).asInstanceOf[StructType])
            partCols = (md \ "partitionColumns")
              .extractOpt[Seq[String]].getOrElse(Nil)
            conf = (md \ "configuration")
              .extractOpt[Map[String, String]].getOrElse(Map.empty)
        }
        (action \ "protocol") match {
          case JNothing =>
          case pr =>
            val mrv = (pr \ "minReaderVersion").extractOpt[Int].getOrElse(
              throw new IllegalStateException(
                s"$tableDir commit $v: protocol without minReaderVersion"))
            val feats = (pr \ "readerFeatures")
              .extractOpt[Seq[String]].getOrElse(Nil).toSet
            protocol = Some(Protocol(mrv, feats,
              (pr \ "minWriterVersion").extractOpt[Int].getOrElse(2),
              (pr \ "writerFeatures").extractOpt[Seq[String]]
                .getOrElse(Nil).toSet))
        }
        (action \ "add") match {
          case JNothing =>
          case add =>
            val path = (add \ "path").extract[String]
            val dv = parseDvJson(add \ "deletionVector")
            val pv = (add \ "partitionValues")
              .extractOpt[Map[String, String]].getOrElse(Map.empty)
            live(path) = AddFile(path, pv, dv,
              (add \ "stats").extractOpt[String])
        }
        (action \ "remove") match {
          case JNothing =>
          case rm => live.remove((rm \ "path").extract[String])
        }
      }
    }
    val sch = schema.getOrElse(throw new IllegalStateException(
      s"$tableDir: log replay finished without a metaData action"))
    protocol.foreach(gateProtocol(tableDir, _))
    val (phys, ids) = columnMapping(tableDir, sch, conf)
    Snapshot(wanted.lastOption.map(_._1).getOrElse(base), sch, partCols,
      live.values.toSeq, phys, conf, ids,
      protocol.map(_.minReaderVersion).getOrElse(1),
      protocol.map(_.readerFeatures).getOrElse(Set.empty),
      protocol.map(_.minWriterVersion).getOrElse(2),
      protocol.map(_.writerFeatures).getOrElse(Set.empty))
  }

  /** Resolve `timestampAsOf` to a version: the LATEST commit whose
    * `commitInfo.timestamp` is ≤ the asked instant. Deterministic
    * time travel rides the commits' OWN recorded timestamps (the
    * surface Delta's inCommitTimestamps feature makes authoritative)
    * — file modification times are deployment trivia and are never
    * consulted. A commit without a stamped commitInfo, or an instant
    * before the first commit, refuses loudly. Bounded: one JSON read
    * per available commit. */
  def versionAtTimestamp(spark: SparkSession, tableDir: String,
                         timestampMs: Long): Long = {
    val logDir = new Path(tableDir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits =
      try fs.listStatus(logDir).toSeq.map(_.getPath)
        .filter(_.getName.matches("\\d{20}\\.json"))
        .map(p => p.getName.stripSuffix(".json").toLong -> p)
        .sortBy(_._1)
      catch { case _: FileNotFoundException =>
        throw new IllegalStateException(s"$tableDir has no _delta_log")
      }
    if (commits.isEmpty) throw new IllegalStateException(
      s"$tableDir: empty _delta_log (timestamp travel needs JSON commits)")
    val stamped = commits.map { case (v, p) =>
      val text = LakeFiles.readText(fs, p)
      val ts = text.linesIterator.filter(_.trim.nonEmpty).flatMap { line =>
        val action = try JsonMethods.parse(line)
          catch { case _: Exception => JNothing }
        (action \ "commitInfo" \ "timestamp").extractOpt[Long]
      }.nextOption().getOrElse(throw new IllegalStateException(
        s"$tableDir commit $v has no commitInfo.timestamp — timestamp " +
          "travel needs stamped commits (inCommitTimestamps)"))
      v -> ts
    }
    val eligible = stamped.filter(_._2 <= timestampMs)
    if (eligible.isEmpty) throw new IllegalArgumentException(
      s"$tableDir: no commit at or before timestamp $timestampMs " +
        s"(earliest is ${stamped.head._2})")
    // ties on the stamp resolve to the LATEST version (timestampAsOf
    // semantics: the last table state at or before the instant)
    eligible.maxBy(e => (e._2, e._1))._1
  }

  /** Highest commit version currently in the log (checkpoint-aware:
    * a checkpoint with its JSON gone still names its version). Used by
    * the streaming source's offset probe — one directory listing, no
    * replay. */
  def latestVersion(spark: SparkSession, tableDir: String): Long = {
    val logDir = new Path(tableDir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val jsons =
      try fs.listStatus(logDir).toSeq.map(_.getPath.getName)
        .collect { case n if n.matches("\\d{20}\\.json") =>
          n.stripSuffix(".json").toLong }
      catch { case _: FileNotFoundException =>
        throw new IllegalStateException(s"$tableDir has no _delta_log")
      }
    val ckptV = lastCheckpoint(fs, logDir, tableDir).map(_._1)
    (jsons ++ ckptV).maxOption.getOrElse(
      throw new IllegalStateException(s"$tableDir: empty _delta_log"))
  }

  /** Highest `txn` version recorded for `appId` across the available
    * JSON commits — the exactly-once dedup surface for the streaming
    * SINK (PROTOCOL.md "Transaction Identifiers"): a re-delivered
    * micro-batch whose id is ≤ this version is a duplicate and must
    * not commit again. Lite contract: requires the txn-bearing JSON
    * commits to still be present (no checkpoint compaction of the
    * writer's own recent history). */
  def latestTxnVersion(spark: SparkSession, tableDir: String,
                       appId: String): Option[Long] =
    allTxnVersions(spark, tableDir).get(appId)

  /** Latest `txn` version per appId across the available JSON commits
    * AND the checkpoint's txn column — a checkpointed table's
    * pre-checkpoint txn history lives ONLY in the checkpoint (the
    * JSONs may be vacuumed); without it a restarted stream would
    * re-commit old batches. Also what a checkpoint WRITER must carry
    * forward. */
  def allTxnVersions(spark: SparkSession,
                     tableDir: String): Map[String, Long] = {
    val logDir = new Path(tableDir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) return Map.empty
    val commits = fs.listStatus(logDir).toSeq.map(_.getPath)
      .filter(_.getName.matches("\\d{20}\\.json"))
    val fromJson: Seq[(String, Long)] = commits.flatMap { p =>
      val text = LakeFiles.readText(fs, p)
      text.linesIterator.filter(_.trim.nonEmpty).flatMap { line =>
        val action = try JsonMethods.parse(line)
          catch { case _: Exception => JNothing }
        (action \ "txn") match {
          case JNothing => None
          case txn => for {
            a <- (txn \ "appId").extractOpt[String]
            v <- (txn \ "version").extractOpt[Long]
          } yield (a, v)
        }
      }.toSeq
    }
    val fromCkpt: Seq[(String, Long)] =
      lastCheckpoint(fs, logDir, tableDir).toSeq
        .flatMap { case (cv, parts) =>
          val names = parts match {
            case Some(n) => (1 to n).map(i =>
              f"$cv%020d.checkpoint.$i%010d.$n%010d.parquet")
            case None => Seq(f"$cv%020d.checkpoint.parquet")
          }
          val paths = names.map(n => s"$tableDir/_delta_log/$n")
          def txnsOfFrame(df: DataFrame): Seq[(String, Long)] =
            if (!df.columns.contains("txn")) Nil
            else df.select(col("txn.appId"), col("txn.version"))
              .where(col("txn.appId").isNotNull).collect()
              .map(r => (r.getString(0), r.getLong(1))).toSeq
          if (paths.forall(p => fs.exists(new Path(p))))
            txnsOfFrame(spark.read.parquet(paths: _*))
          else {
            // same refusal as loadCheckpoint: silently yielding NO
            // checkpoint txn history on a corrupt log could regress
            // streaming exactly-once dedup state
            val m = v2Manifest(fs, tableDir, cv).getOrElse(
              throw new IllegalStateException(
                s"$tableDir: checkpoint $cv unreadable — neither the " +
                  s"classic names (${names.mkString(", ")}) nor a v2 " +
                  "UUID-named manifest exist"))
            // v2: txn actions live in the MANIFEST (sidecars carry
            // only file actions per the spec)
            if (m.getName.endsWith(".json")) {
              val text = LakeFiles.readText(fs, m)
              text.linesIterator.filter(_.trim.nonEmpty).flatMap { line =>
                val a = try JsonMethods.parse(line)
                  catch { case _: Exception => JNothing }
                for {
                  id <- (a \ "txn" \ "appId").extractOpt[String]
                  v <- (a \ "txn" \ "version").extractOpt[Long]
                } yield (id, v)
              }.toSeq
            } else txnsOfFrame(spark.read.parquet(m.toString))
          }
        }
    (fromJson ++ fromCkpt).groupBy(_._1)
      .map { case (a, vs) => a -> vs.map(_._2).max }
  }

  /** CHANGE DATA FEED read over commits [fromVersion, toVersion] —
    * the incremental-ETL surface (PROTOCOL.md "Add CDC File"). Per
    * the protocol, a commit that wrote `cdc` actions describes its
    * changes COMPLETELY through those files (`_change_type` column:
    * insert / delete / update_preimage / update_postimage) and its
    * add/remove actions are ignored by CDF readers; a commit WITHOUT
    * cdc actions synthesizes its changes from the dataChange actions —
    * adds are inserts (each add's own DV applied), removes are deletes
    * (the removed file's live content: its bytes minus the DV the
    * remove action carries), and a file removed+re-added with a GROWN
    * deletion vector contributes exactly the newly-dead rows as
    * deletes (see [[synthesizeChanges]]). Output = data columns +
    * `_change_type` + `_commit_version`.
    *
    * Lite scope, loud failures: the table must carry
    * `delta.enableChangeDataFeed=true` at `toVersion`; a cdc-less
    * in-commit REWRITE (remove+re-add without a deletion vector) and a
    * SHRINKING deletion vector (a restore) refuse — their change rows
    * cannot be attributed by synthesis. Column-mapped tables ARE
    * served: cdc data columns
    * resolve by physical name / field id exactly like data files,
    * while the id-less `_change_type` column the writer adds resolves
    * by its literal name (a mixed-resolution read schema per leg).
    * Each version's files are one native
    * vectorized scan; the union is O(changed files), never a table
    * re-list. */
  def readChanges(spark: SparkSession, tableDir: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"$tableDir: change-feed range is reversed " +
        s"(fromVersion=$fromVersion > toVersion=$toVersion)")
    val logDir = new Path(tableDir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = snapshot(spark, tableDir, Some(toVersion))
    // CDF must be ON for the range to have been recorded (the
    // snapshot replay above already tracked the configuration)
    if (!snap.configuration.get("delta.enableChangeDataFeed")
        .contains("true"))
      throw new IllegalStateException(
        s"$tableDir: delta.enableChangeDataFeed is not true at version " +
          s"$toVersion — the log carries no change data for the range")
    val ctField = org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType, nullable = true)
    val perVersion = (fromVersion to toVersion).map { v =>
      val p = new Path(logDir, f"$v%020d.json")
      if (!fs.exists(p)) throw new IllegalStateException(
        s"$tableDir: change range needs commit $v but its JSON is gone")
      val text = LakeFiles.readText(fs, p)
      var cdcFiles = Vector.empty[AddFile]
      var adds = Vector.empty[AddFile]
      var removes = Vector.empty[AddFile]
      for (line <- text.linesIterator if line.trim.nonEmpty) {
        val action = try JsonMethods.parse(line)
          catch { case e: Exception => throw new IllegalStateException(
            s"$tableDir commit $v: malformed action JSON (${e.getMessage})")
          }
        (action \ "cdc") match {
          case JNothing =>
          case c => cdcFiles :+= AddFile((c \ "path").extract[String],
            (c \ "partitionValues").extractOpt[Map[String, String]]
              .getOrElse(Map.empty))
        }
        (action \ "add") match {
          case JNothing =>
          case a if (a \ "dataChange").extractOpt[Boolean].getOrElse(true) =>
            adds :+= AddFile((a \ "path").extract[String],
              (a \ "partitionValues").extractOpt[Map[String, String]]
                .getOrElse(Map.empty),
              parseDvJson(a \ "deletionVector"))
          case _ =>
        }
        (action \ "remove") match {
          case JNothing =>
          case r if (r \ "dataChange").extractOpt[Boolean].getOrElse(true) =>
            val path = (r \ "path").extract[String]
            val pv = (r \ "partitionValues")
              .extractOpt[Map[String, String]].getOrElse(Map.empty)
            if (snap.partitionColumns.nonEmpty && pv.isEmpty)
              throw new IllegalStateException(
                s"$tableDir commit $v: remove $path lacks " +
                  "partitionValues on a partitioned table — cannot " +
                  "synthesize its delete rows")
            // the remove action carries the REMOVED file's deletion
            // vector (the rows already dead before this commit)
            removes :+= AddFile(path, pv, parseDvJson(r \ "deletionVector"))
          case _ =>
        }
      }
      val changed: DataFrame =
        if (cdcFiles.nonEmpty) {
          // cdc files carry the data columns (under the table's
          // column-mapping mode, like any data file) + _change_type
          // stored under its literal name — readFiles resolves mapped
          // fields by physical name / field id and the unmapped
          // _change_type by name
          val withCt = StructType(snap.schema.fields :+ ctField)
          readFiles(spark, tableDir, withCt, snap.partitionColumns,
            cdcFiles, snap.physicalNames, snap.fieldIds)
        } else synthesizeChanges(spark, tableDir, snap, v, adds, removes)
      changed.withColumn("_commit_version", lit(v))
    }
    perVersion.reduce(_ unionAll _)
  }

  /** Change rows for ONE cdc-less commit, synthesized from its
    * dataChange add/remove actions per the protocol's fallback rule:
    * adds are the inserts (each file's own DV applied — a blind write
    * may carry one), removes are the deletes (the removed file's
    * content minus the DV it carried, i.e. the rows live at removal
    * time). A file REMOVED AND RE-ADDED in the same commit is the
    * deletion-vector row-level-delete flow — its net change is the
    * rows NEWLY dead under the grown vector (dvNew \ dvOld), never a
    * whole-file delete+insert churn. A shrinking vector (a restore)
    * refuses: its change rows would be inserts this synthesis cannot
    * attribute. All joins key on small descriptor-decoded dead sets;
    * data files are scanned once each. */
  private def synthesizeChanges(spark: SparkSession, tableDir: String,
                                snap: Snapshot, v: Long,
                                adds: Seq[AddFile],
                                removes: Seq[AddFile]): DataFrame = {
    val removedPaths = removes.map(_.path).toSet
    val pairPaths = adds.map(_.path).toSet intersect removedPaths
    val insertAdds = adds.filterNot(f => pairPaths(f.path))
    val pureRemoves = removes.filterNot(f => pairPaths(f.path))
    val inserts =
      if (insertAdds.isEmpty) None
      else Some(readFiles(spark, tableDir, snap.schema,
        snap.partitionColumns, insertAdds, snap.physicalNames,
        snap.fieldIds).withColumn("_change_type", lit("insert")))
    val fileDeletes =
      if (pureRemoves.isEmpty) None
      else Some(readFiles(spark, tableDir, snap.schema,
        snap.partitionColumns, pureRemoves, snap.physicalNames,
        snap.fieldIds).withColumn("_change_type", lit("delete")))
    val dvDeletes =
      if (pairPaths.isEmpty) None
      else {
        val oldState = removes.filter(f => pairPaths(f.path))
        val newState = adds.filter(f => pairPaths(f.path))
        // gate PER pair file, not whole-commit: a mixed commit (one
        // file with a grown DV, another re-added bare) must still
        // refuse the bare file, and a file whose re-add DROPS its DV
        // is a restore (the old dead rows came back), not a rewrite
        val oldByPath = oldState.map(f => f.path -> f).toMap
        newState.filter(_.deletionVector.isEmpty).foreach { f =>
          if (oldByPath(f.path).deletionVector.nonEmpty)
            throw new IllegalStateException(
              s"$tableDir commit $v: re-added file ${f.path} DROPPED " +
                "its deletion vector — a restore is outside " +
                "synthesized-CDF scope")
          else throw new IllegalStateException(
            s"$tableDir commit $v: file ${f.path} removed and re-added " +
              "with no deletion vector and no cdc files — an in-commit " +
              "rewrite is outside synthesized-CDF scope")
        }
        val deadOld = dvDeleteSet(spark, tableDir, oldState)
          .withColumnRenamed("_dv_path", "_do_path")
          .withColumnRenamed("_dv_pos", "_do_pos")
        val deadNew = dvDeleteSet(spark, tableDir, newState)
        // a position dead BEFORE but live AFTER = a restore — the
        // protocol allows it, this synthesis cannot express it as a
        // delete; check is bounded by the descriptor-decoded dead sets
        val restored = deadOld.join(deadNew,
          col("_do_path") === col("_dv_path") &&
            col("_do_pos") === col("_dv_pos"), "left_anti").count()
        if (restored > 0) throw new IllegalStateException(
          s"$tableDir commit $v: a re-added file's deletion vector " +
            s"SHRANK ($restored positions restored) — restores are " +
            "outside synthesized-CDF scope")
        val newlyDead = deadNew.join(deadOld,
          col("_dv_path") === col("_do_path") &&
            col("_dv_pos") === col("_do_pos"), "left_anti")
        // rows live at v-1 (old DV applied) sitting at newly-dead
        // positions ARE the commit's delete rows
        val liveOld = readFiles(spark, tableDir, snap.schema,
          snap.partitionColumns, oldState, snap.physicalNames,
          snap.fieldIds, keepMeta = true)
        Some(liveOld.join(newlyDead,
          col("_dl_path") === col("_dv_path") &&
            col("_dl_pos") === col("_dv_pos"), "left_semi")
          .drop("_dl_path", "_dl_pos")
          .withColumn("_change_type", lit("delete")))
      }
    val legs = Seq(inserts, fileDeletes, dvDeletes).flatten
    if (legs.isEmpty)
      // a metadata-only commit in range: zero change rows, full shape
      readFiles(spark, tableDir, snap.schema, snap.partitionColumns,
        Nil, snap.physicalNames, snap.fieldIds)
        .withColumn("_change_type", lit("insert"))
    else legs.reduce(_ unionAll _)
  }

  /** The files ADDED in commits (fromExclusive, toInclusive] — the
    * incremental-batch surface for streaming reads. APPEND-ONLY scope,
    * loud failures: a DATA-CHANGING `remove` action in the range
    * throws (emitting around it would stream wrong results — Delta's
    * own source fails these without ignoreDeletes), as does a metaData
    * action that CHANGES the schema mid-stream (schema evolution is
    * outside lite scope), a version gap, or a range commit whose JSON
    * was cleaned up. `dataChange=false` actions — a COMPACTION's file
    * swap — are SKIPPED entirely per the protocol's contract: the
    * removes changed no rows, and the re-listed adds hold rows the
    * stream already served (emitting them would duplicate). Protocol
    * actions in the range are gated like snapshot(). */
  def addsBetween(spark: SparkSession, tableDir: String,
                  fromExclusive: Long, toInclusive: Long,
                  expectedSchemaJson: String): Seq[AddFile] = {
    val logDir = new Path(tableDir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val adds = mutable.LinkedHashMap.empty[String, AddFile]
    for (v <- (fromExclusive + 1) to toInclusive) {
      val p = new Path(logDir, f"$v%020d.json")
      if (!fs.exists(p)) throw new IllegalStateException(
        s"$tableDir: streaming range needs commit $v but its JSON is " +
          "gone (log cleanup passed the stream's offset)")
      val text = LakeFiles.readText(fs, p)
      for (line <- text.linesIterator if line.trim.nonEmpty) {
        val action = try JsonMethods.parse(line)
          catch { case e: Exception => throw new IllegalStateException(
            s"$tableDir commit $v: malformed action JSON: " +
              s"${line.take(80)} (${e.getMessage})")
          }
        (action \ "remove") match {
          case JNothing =>
          // dataChange=false removes are a COMPACTION's file swap —
          // no rows changed, streams skip them by protocol contract
          case rm if !(rm \ "dataChange").extractOpt[Boolean]
            .getOrElse(true) =>
          case rm => throw new IllegalStateException(
            s"$tableDir commit $v: remove ${(rm \ "path").extractOpt[String]
              .getOrElse("?")} — streaming reads are append-only scope " +
              "(a remove mid-stream would emit rows that no longer exist)")
        }
        (action \ "metaData") match {
          case JNothing =>
          case md =>
            val ss = (md \ "schemaString").extractOpt[String].getOrElse("")
            if (ss != expectedSchemaJson) throw new IllegalStateException(
              s"$tableDir commit $v: schema changed mid-stream — " +
                "evolution is outside DeltaLogLite streaming scope")
        }
        (action \ "protocol") match {
          case JNothing =>
          case pr =>
            val mrv = (pr \ "minReaderVersion").extractOpt[Int].getOrElse(0)
            val feats = (pr \ "readerFeatures")
              .extractOpt[Seq[String]].getOrElse(Nil).toSet
            gateProtocol(tableDir, Protocol(mrv, feats))
        }
        (action \ "add") match {
          case JNothing =>
          // dataChange=false adds re-list rows the stream already
          // served (the compaction's packed files) — emitting them
          // would DUPLICATE; streams skip them by protocol contract
          case add if !(add \ "dataChange").extractOpt[Boolean]
            .getOrElse(true) =>
          case add =>
            val path = (add \ "path").extract[String]
            (add \ "deletionVector") match {
              case JNothing | JNull =>
              case _ => throw new IllegalStateException(
                s"$tableDir commit $v: add $path carries a deletionVector")
            }
            val pv = (add \ "partitionValues")
              .extractOpt[Map[String, String]].getOrElse(Map.empty)
            adds(path) = AddFile(path, pv)
        }
      }
    }
    adds.values.toSeq
  }

  /** RFC 1924 base85 alphabet (the variant Delta uses for
    * deletion-vector UUIDs/inline payloads). */
  private val base85Alphabet =
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      "abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~"
  private val base85Index: Array[Int] = {
    val idx = Array.fill(128)(-1)
    base85Alphabet.zipWithIndex.foreach { case (c, i) => idx(c.toInt) = i }
    idx
  }

  /** Decode RFC-1924 base85: every 5 chars are one big-endian 32-bit
    * group. Length must be a multiple of 5 (Delta encodes whole
    * 16-byte UUIDs → 20 chars). */
  private[graft] def base85Decode(text: String): Array[Byte] = {
    if (text.length % 5 != 0) throw new IllegalStateException(
      s"DeltaLogLite: base85 payload length ${text.length} is not a " +
        "multiple of 5")
    val out = java.nio.ByteBuffer.allocate(text.length / 5 * 4)
    for (g <- text.grouped(5)) {
      var acc = 0L
      for (c <- g) {
        val d = if (c < 128) base85Index(c.toInt) else -1
        if (d < 0) throw new IllegalStateException(
          s"DeltaLogLite: invalid base85 character '$c'")
        acc = acc * 85 + d
      }
      if (acc > 0xffffffffL) throw new IllegalStateException(
        s"DeltaLogLite: base85 group '$g' exceeds 32 bits — malformed")
      out.putInt(acc.toInt)
    }
    out.array()
  }

  /** Encode bytes as RFC-1924 base85 (inverse of [[base85Decode]]):
    * every 4 bytes are one big-endian 32-bit group rendered as 5
    * alphabet chars — the spelling Delta uses for deletion-vector
    * UUIDs in `u`-storage descriptors. */
  private[graft] def base85Encode(bytes: Array[Byte]): String = {
    if (bytes.length % 4 != 0) throw new IllegalStateException(
      s"DeltaLogLite: base85 payload length ${bytes.length} is not a " +
        "multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var acc = ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
      val group = new Array[Char](5)
      var j = 4
      while (j >= 0) {
        group(j) = base85Alphabet((acc % 85).toInt); acc /= 85; j -= 1
      }
      sb.appendAll(group)
      i += 4
    }
    sb.toString
  }

  /** File-identity JOIN form: the decoded "/"-rooted spelling
    * [[MetaPaths.decoded]] produces on the scan side. A
    * file:-qualified tableDir would otherwise key descriptors as
    * `file:/…` against a scan side spelled `/…` — the anti-join
    * would miss and silently resurrect deleted rows. Join keys ONLY;
    * filesystem operations keep the original spelling (stripping a
    * scheme there would misroute on a cluster whose DEFAULT fs is
    * remote). */
  private def joinForm(p: String): String =
    p.replaceFirst("^file:/+", "/")

  /** Resolve a FILE-BACKED DV descriptor to the absolute path of its
    * `.bin` file. `u`: the LAST 20 chars of pathOrInlineDv are the
    * base85 UUID, any leading chars are the random directory prefix;
    * `p`: absolute path. (`i` never reaches here — inline payloads
    * decode from the descriptor itself in [[dvDeleteSet]].) */
  private def dvFilePath(tableDir: String, dv: DvDescriptor): String =
    dv.storageType match {
      case "u" =>
        val enc = dv.pathOrInlineDv
        if (enc.length < 20) throw new IllegalStateException(
          s"DeltaLogLite: deletion-vector id '$enc' is shorter than a " +
            "base85 UUID")
        val (prefix, b85) = enc.splitAt(enc.length - 20)
        val bytes = base85Decode(b85)
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val uuid = new java.util.UUID(bb.getLong, bb.getLong)
        val dir = if (prefix.isEmpty) tableDir else s"$tableDir/$prefix"
        s"$dir/deletion_vector_$uuid.bin"
      case "p" =>
        if (!dv.pathOrInlineDv.startsWith("/") &&
          !dv.pathOrInlineDv.startsWith("file:"))
          throw new IllegalStateException(
            s"DeltaLogLite: deletion-vector path ${dv.pathOrInlineDv} " +
              "is not a local absolute path — outside lite scope")
        dv.pathOrInlineDv.stripPrefix("file://").stripPrefix("file:")
      case other => throw new IllegalStateException(
        s"DeltaLogLite: deletion-vector storageType '$other' is outside " +
          "lite scope (u and p are file-backed, i is inline)")
    }

  /** Decode ONE deletion vector from its `.bin` file into dead row
    * ordinals, verifying version, size, magic and CRC32 — a framing
    * this reader mis-guessed fails loudly, never silently. Runs
    * executor-side. */
  private[graft] def decodeDvFile(path: String, offset: Long,
                                  sizeInBytes: Int,
                                  cardinality: Long): Iterator[Long] = {
    val raf = openBlobStream(path)
    try {
      raf.seek(0)
      val version = raf.readByte()
      if (version != 1) throw new IllegalStateException(
        s"$path: deletion-vector file version $version (expected 1)")
      raf.seek(offset)
      val storedSize = raf.readInt() // big-endian per the layout
      if (storedSize != sizeInBytes) throw new IllegalStateException(
        s"$path: deletion vector at offset $offset has stored size " +
          s"$storedSize but the descriptor says $sizeInBytes")
      val data = new Array[Byte](sizeInBytes)
      raf.readFully(data)
      val storedCrc = raf.readInt()
      val crc = new java.util.zip.CRC32
      crc.update(data)
      if (storedCrc != crc.getValue.toInt) throw new IllegalStateException(
        s"$path: deletion-vector checksum mismatch at offset $offset")
      decodeDvPayload(data, cardinality, path)
    } finally raf.close()
  }

  /** Open a deletion-vector blob file through the Hadoop filesystem
    * of its OWN uri (executor-side; a fresh Configuration picks up
    * the cluster's core-site) — seekable big-endian DataInput, same
    * contract RandomAccessFile served, but scheme-aware so DV blobs
    * on hdfs:// or object stores read exactly like local files. */
  private[graft] def openBlobStream(path: String)
  : org.apache.hadoop.fs.FSDataInputStream = {
    val p = new Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(p)
  }

  /** Decode a serialized deletion-vector PAYLOAD — [4-byte LE magic
    * 1681511377][RoaringBitmapArray portable bitmaps] — into dead row
    * ordinals, verifying magic and cardinality. Shared by the
    * file-backed path (which also checks version/size/CRC framing)
    * and INLINE descriptors (whose payload travels base85-encoded in
    * the log and has no file framing). */
  private[graft] def decodeDvPayload(data: Array[Byte], cardinality: Long,
                                     where: String): Iterator[Long] = {
    val bb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    if (magic != 1681511377) throw new IllegalStateException(
      s"$where: deletion-vector magic $magic (expected 1681511377) — " +
        "unknown serialization; refusing rather than mis-reading")
    val nBitmaps = bb.getLong
    val out = Seq.newBuilder[Long]
    var i = 0L
    while (i < nBitmaps) {
      val key = bb.getInt.toLong
      val bmp = new org.roaringbitmap.RoaringBitmap()
      // the library reads the standard portable format and leaves
      // the buffer positioned after the bitmap
      bmp.deserialize(bb)
      bb.position(bb.position() + bmp.serializedSizeInBytes())
      val it = bmp.getIntIterator
      while (it.hasNext) {
        out += (key << 32) | (it.next().toLong & 0xffffffffL)
      }
      i += 1
    }
    val positions = out.result()
    if (positions.length.toLong != cardinality)
      throw new IllegalStateException(
        s"$where: deletion vector decoded ${positions.length} ordinals " +
          s"but the descriptor says cardinality=$cardinality")
    positions.iterator
  }

  /** The (data file path, dead ordinal) set for every DV-bearing add —
    * decode runs EXECUTOR-SIDE over the bounded descriptor list, so
    * dead-row volume never lands on the driver. */
  private def dvDeleteSet(spark: SparkSession, tableDir: String,
                          files: Seq[AddFile]): DataFrame = {
    import spark.implicits._
    // file-backed DVs ship (path, offset, size); INLINE DVs ('i')
    // carry their payload base85-encoded in the descriptor — decoded
    // to bytes here (bounded: the strings already sit in the log) and
    // shipped to the executors like any other literal
    val descriptors: Seq[(String, String, Long, Int, Long, Array[Byte])] =
      files.flatMap { f =>
        f.deletionVector.map { dv =>
          val dataPath = joinForm(resolveAddPath(tableDir, f.path))
          if (dv.storageType == "i") {
            val decoded = base85Decode(dv.pathOrInlineDv)
            // base85 pads to 4-byte groups; sizeInBytes names the
            // real payload length
            if (decoded.length < dv.sizeInBytes ||
              decoded.length - dv.sizeInBytes >= 4)
              throw new IllegalStateException(
                s"DeltaLogLite: inline deletion vector for $dataPath " +
                  s"decodes to ${decoded.length} bytes but the " +
                  s"descriptor says sizeInBytes=${dv.sizeInBytes}")
            (dataPath, null, 0L, dv.sizeInBytes, dv.cardinality,
              decoded.take(dv.sizeInBytes))
          } else
            (dataPath, dvFilePath(tableDir, dv), dv.offset,
              dv.sizeInBytes, dv.cardinality, null)
        }
      }
    // fan-out caps at the cluster's parallelism, not a constant — on
    // a real cluster 10^5 descriptors should decode cluster-wide
    descriptors.toDS().repartition(
      math.min(descriptors.size,
        spark.sparkContext.defaultParallelism).max(1))
      .flatMap { case (dataPath, dvPath, offset, size, card, inline) =>
        val dead =
          if (inline != null)
            decodeDvPayload(inline, card, s"inline DV of $dataPath")
          else decodeDvFile(dvPath, offset, size, card)
        dead.map(pos => (dataPath, pos))
      }.toDF("_dv_path", "_dv_pos")
  }

  /** Build the typed DataFrame for a set of AddFiles under `snap`'s
    * schema/partition columns — the shared data-read path for both
    * snapshot reads and streaming batches (partition values come from
    * the log, CAST to declared types; data files carry the rest).
    * Under column mapping, data files are read by their PHYSICAL
    * column names and projected back to logical ones, and
    * `partitionValues` keys (physical per the protocol) resolve
    * through the same map. */
  def readFiles(spark: SparkSession, tableDir: String,
                schema: StructType, partColumns: Seq[String],
                files: Seq[AddFile],
                physicalNames: Map[String, String] = Map.empty,
                fieldIds: Map[String, Long] = Map.empty,
                keepMeta: Boolean = false): DataFrame = {
    def phys(c: String): String = physicalNames.getOrElse(c, c)
    val withDv = files.exists(_.deletionVector.nonEmpty) || keepMeta
    // mode=id: keep LOGICAL names in the read schema and resolve the
    // parquet columns by their stamped field ids (the physical names
    // in the file are ignored by id matching); mode=name: read under
    // physical names and project back
    val byId = fieldIds.nonEmpty
    if (byId)
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val dataSchema = StructType(
      schema.filterNot(f => partColumns.contains(f.name))
        .map { f =>
          // a field OUTSIDE the mapping (CDF's _change_type — cdc
          // files store it under its literal name, unmapped and
          // id-less) resolves by name either way
          if (byId) fieldIds.get(f.name) match {
            case Some(id) => f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putLong("parquet.field.id", id).build())
            case None => f
          }
          else f.copy(name = phys(f.name))
        })
    val dataCols = schema.fieldNames.filterNot(partColumns.contains)
    val groups = files.groupBy(_.partitionValues).toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).mkString("\u0000"))
    val parts = groups.map { case (pv, fl) =>
      val scan = spark.read.schema(dataSchema)
        .parquet(fl.map(f => resolveAddPath(tableDir, f.path)): _*)
      // under deletion vectors the scan keeps its file identity and
      // row ordinal through the projection for the dead-row anti-join;
      // the metadata path is percent-DECODED (MetaPaths) so it compares
      // equal to the decoded add.path the descriptor side is keyed on —
      // an encoded-vs-decoded mismatch would silently resurrect rows
      val metaCols = if (withDv) Seq(
        MetaPaths.decoded(col("_metadata.file_path")).as("_dl_path"),
        col("_metadata.row_index").as("_dl_pos")) else Nil
      val base = scan.select(
        dataCols.map(c => col(if (byId) c else phys(c)).as(c)).toSeq ++
          metaCols: _*)
      partColumns.foldLeft(base) { (df, c) =>
        val f = schema(c)
        val v = pv.get(phys(c)) match {
          case Some(s) => lit(s).cast(f.dataType)
          case None    => lit(null).cast(f.dataType)
        }
        df.withColumn(c, v)
      }.select(schema.fieldNames.map(col).toSeq ++
        (if (withDv) Seq(col("_dl_path"), col("_dl_pos")) else Nil): _*)
    }
    val unioned = parts.reduceOption(_ unionAll _).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (!withDv) schema
        else StructType(schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_dl_path",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_dl_pos",
            org.apache.spark.sql.types.LongType)))))
    if (!withDv) unioned
    else {
      val afterDv =
        if (files.exists(_.deletionVector.nonEmpty)) {
          val dead = dvDeleteSet(spark, tableDir, files)
          unioned.join(dead, col("_dl_path") === col("_dv_path") &&
            col("_dl_pos") === col("_dv_pos"), "left_anti")
        } else unioned
      if (keepMeta) afterDv else afterDv.drop("_dl_path", "_dl_pos")
    }
  }

  /** `add.path` is percent-encoded as an RFC 2396 URI per the public
    * protocol (PROTOCOL.md "Add File and Remove File") and is either
    * RELATIVE to the table root or ABSOLUTE — shallow clones and
    * external-location files store absolute URIs. A file named
    * `part a=b%25.parquet` arrives as `part%20a%3Db%2525.parquet`;
    * decode before touching the filesystem. `file:`-scheme and plain
    * absolute paths are served; any OTHER scheme (s3://, hdfs://, …)
    * refuses loudly — never a wrong path. */
  private[graft] def resolveAddPath(tableDir: String,
                                    raw: String): String = {
    val uri = try new java.net.URI(raw)
      catch { case e: java.net.URISyntaxException =>
        throw new IllegalStateException(
          s"DeltaLogLite: undecodable add.path $raw (${e.getMessage})")
      }
    Option(uri.getScheme).filter(_ != "file").foreach { s =>
      throw new IllegalStateException(
        s"DeltaLogLite: add.path $raw has unsupported scheme '$s://' — " +
          "only file:// and table-relative paths are in scope")
    }
    val decoded = uri.getPath
    if (decoded == null || decoded.isEmpty) throw new IllegalStateException(
      s"DeltaLogLite: add.path $raw decodes to an empty path")
    if (decoded.startsWith("/")) decoded else s"$tableDir/$decoded"
  }

  /** DataFrame over the snapshot: files grouped by partition tuple,
    * each group one native parquet scan of the DATA columns, with the
    * partition values attached as typed literal columns (Delta stores
    * partition columns only in the log, never in the data files). */
  def read(spark: SparkSession, tableDir: String,
           versionAsOf: Option[Long] = None,
           timestampAsOf: Option[Long] = None): DataFrame = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val v = versionAsOf.orElse(
      timestampAsOf.map(versionAtTimestamp(spark, tableDir, _)))
    val snap = snapshot(spark, tableDir, v)
    readFiles(spark, tableDir, snap.schema, snap.partitionColumns,
      snap.files, snap.physicalNames, snap.fieldIds)
  }

  /** OPTIMIZE/compaction: rewrite the table's live rows into
    * `numFiles` fresh parquet files and commit the swap with
    * `dataChange=false` on every action — the protocol's marker for
    * a rearrangement that changes no data, which CDF consumers
    * ([[readChanges]] included) and incremental readers skip by
    * contract. Deletion vectors are MATERIALIZED: the rewrite reads
    * the DV-applied live rows, so the new files carry no vectors
    * (OPTIMIZE's purge semantics) while the removes re-state each
    * dropped file's descriptor verbatim. Returns the committed
    * version.
    *
    * Scale shape: ONE distributed scan of the live rows, an
    * executor-side parquet write, then O(files) driver renames + one
    * JSON append — the same cost envelope as the streaming sink's
    * commit. Single-writer scope (no optimistic-concurrency retry
    * loop).
    *
    * Partitioned tables bin-pack WITHIN each partition: the one scan
    * is salted on (partition columns, bin) so each partition's rows
    * land in at most `numFiles` tasks, and the `partitionBy` write
    * splits each task by partition directory — at most `numFiles`
    * files per partition, still one job. New add actions re-stamp
    * each file's partitionValues (parsed back from the Hive-escaped
    * directory names) and its ACTUAL byte size — external readers
    * plan on `size`, so a placeholder would break them.
    *
    * COLUMN-MAPPED tables compact too: the rewritten files carry the
    * mapping's PHYSICAL column names (mode=name) and stamped
    * parquet field ids (mode=id), and partition directories — hence
    * the re-stamped partitionValues keys — use physical names, as
    * the protocol requires.
    *
    * Loud refusals: null partition values
    * (`__HIVE_DEFAULT_PARTITION__` round-tripping is outside lite
    * scope) and partition source types beyond
    * int/long/string/date/boolean. */
  def compact(spark: SparkSession, tableDir: String,
              numFiles: Int = 1): Long = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val snap = snapshot(spark, tableDir)
    if (snap.files.isEmpty) throw new IllegalStateException(
      s"$tableDir: nothing to compact (no live files)")
    val partCols = snap.partitionColumns
    // bounded partition source types, same set the Iceberg path
    // gates: timestamp/decimal/binary values can round-trip through
    // Spark's Hive-escaped directory rendering with a DIFFERENT
    // string form than the original log (e.g. '2020-01-01 00:00:00'
    // vs the writer's), silently changing the log's partition
    // encoding for external readers
    partCols.foreach { c =>
      snap.schema(c).dataType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.BooleanType => ()
        case dt => throw new IllegalStateException(
          s"$tableDir: partition column $c has type ${dt.simpleString} " +
            "— directory-name round-tripping beyond " +
            "int/long/string/date/boolean is outside lite compaction " +
            "scope")
      }
    }
    snap.files.foreach { f =>
      partCols.foreach { c =>
        // partitionValues are keyed by PHYSICAL name under mapping
        val key = snap.physicalNames.getOrElse(c, c)
        if (f.partitionValues.getOrElse(key, null) == null)
          throw new IllegalStateException(
            s"$tableDir: file ${f.path} has a NULL value for partition " +
              s"column $c — null-partition compaction is outside lite " +
              "scope")
      }
    }
    val version = snap.version + 1
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one distributed scan of the live rows (DVs applied), packed
    val tmp = new Path(tableDir, "_tmp_compact")
    val live = readFiles(spark, tableDir, snap.schema, partCols,
      snap.files, snap.physicalNames, snap.fieldIds)
    // the bin salt must be DETERMINISTIC under task retries: a
    // recomputed monotonically_increasing_id after some reducers
    // already fetched can silently duplicate or drop rows
    // (SPARK-23207 class) — and this rewrites the user's table. A
    // content hash recomputes identically on every attempt.
    val packed =
      if (partCols.isEmpty) live.coalesce(numFiles)
      else live
        .withColumn("_graft_bin",
          pmod(xxhash64(live.columns.map(col).toSeq: _*),
            lit(numFiles.toLong)))
        .repartition((partCols :+ "_graft_bin").map(col): _*)
        .drop("_graft_bin")
    // COLUMN-MAPPED tables rewrite UNDER their mapping: mode=name
    // files carry physical column names; mode=id files additionally
    // stamp parquet.field.id into their footers (Spark's field-id
    // writer), and the staging partition dirs — hence the re-stamped
    // partitionValues keys — use physical names, exactly as the
    // protocol keys them
    def physOf(c: String): String = snap.physicalNames.getOrElse(c, c)
    val outDf = stampMapped(snap, packed)
    // mode=id staging needs the field-id parquet writer — flip the
    // session flag only AROUND this write and restore it, so one
    // maintenance call never changes how unrelated later writes in
    // the session stamp their footers
    val fieldIdKey = "spark.sql.parquet.fieldId.write.enabled"
    val prevFieldId =
      if (snap.fieldIds.isEmpty) None
      else Some(spark.conf.getOption(fieldIdKey))
    prevFieldId.foreach(_ => spark.conf.set(fieldIdKey, "true"))
    try outDf.write.mode("overwrite")
      .partitionBy(partCols.map(physOf): _*).parquet(tmp.toString)
    finally prevFieldId.foreach {
      case Some(v) => spark.conf.set(fieldIdKey, v)
      case None    => spark.conf.unset(fieldIdKey)
    }
    // (escaped partition dir chain, unescaped values, file) per output
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def walkTmp(dir: org.apache.hadoop.fs.Path, relDir: Seq[String],
                pv: Seq[(String, String)])
      : Seq[(Seq[String], Seq[(String, String)],
             org.apache.hadoop.fs.FileStatus)] =
      fs.listStatus(dir).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) {
          val i = n.indexOf('=')
          if (i < 0) throw new IllegalStateException(
            s"$tableDir: unexpected non-partition directory $n in the " +
              "compaction staging output")
          val rawVal = n.substring(i + 1)
          if (rawVal == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
            throw new IllegalStateException(
              s"$tableDir: compaction produced a null-partition " +
                s"directory $n — outside lite scope")
          walkTmp(st.getPath, relDir :+ n,
            pv :+ (ExternalCatalogUtils.unescapePathName(n.substring(0, i))
              -> ExternalCatalogUtils.unescapePathName(rawVal)))
        } else if (n.endsWith(".parquet")) Seq((relDir, pv, st))
        else Nil
      }
    val outputs = walkTmp(tmp, Nil, Nil)
    // add.path is an RFC 2396 URI — percent-encode the literal FS rel
    // path (the dirs keep their Hive-escaped names on disk) so
    // resolveAddPath's decode lands back on the real file
    val moved = outputs.zipWithIndex.map { case ((relDir, pv, st), i) =>
      val dirRel = if (relDir.isEmpty) Seq("data") else relDir
      val rel = (dirRel :+ s"compact-${version}_$i.parquet").mkString("/")
      val dest = new Path(tableDir, rel)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(st.getPath, dest))
        throw new IllegalStateException(
          s"$tableDir: could not move ${st.getPath.getName} into the " +
            "table")
      // footer row count (O(outputs) bounded driver work) → the
      // add's stats.numRecords, so post-compact deletes/updates take
      // the stats fast path instead of re-reading footers
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          dest, spark.sparkContext.hadoopConfiguration))
      val rc = try footer.getRecordCount finally footer.close()
      (rel, pv, st.getLen, rc)
    }
    fs.delete(tmp, true)
    def dvJson(d: DvDescriptor): String =
      s"""{"storageType":${jstr(d.storageType)},"pathOrInlineDv":${
        jstr(d.pathOrInlineDv)},"offset":${d.offset},"sizeInBytes":${
        d.sizeInBytes},"cardinality":${d.cardinality}}"""
    def pvJson(pv: Seq[(String, String)]): String =
      pv.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
        .mkString("{", ",", "}")
    val removes = snap.files.sortBy(_.path).map(f =>
      s"""{"remove":{"path":${jstr(f.path)},"deletionTimestamp":0,"dataChange":false,"partitionValues":${
        pvJson(f.partitionValues.toSeq.sortBy(_._1))}""" +
        f.deletionVector.map(d => s""","deletionVector":${dvJson(d)}""")
          .getOrElse("") + "}}")
    val adds = moved.map { case (rel, pv, size, rc) =>
      s"""{"add":{"path":${jstr(uriEncode(rel))},"partitionValues":${
        pvJson(pv)},"size":$size,"modificationTime":0,"dataChange":false,"stats":${
        jstr(s"""{"numRecords":$rc}""")}}}"""
    }
    AtomicFiles.write(fs,
      new Path(tableDir, f"_delta_log/$version%020d.json"),
      (removes ++ adds).mkString("", "\n", "\n"), replace = false)
    version
  }

  /** JSON string literal with control-char escaping — shared by the
    * write paths' hand-rendered action lines. */

  /** Serialize dead row ordinals into the deletion-vector PAYLOAD
    * layout [[decodeDvPayload]] reads — [4-byte LE magic][8-byte LE
    * bitmap count][per bitmap: 4-byte LE key + standard 32-bit
    * roaring bitmap, keys ascending] — and return (payload,
    * cardinality). Runs executor-side in [[delete]]'s per-file
    * groups. */
  private[graft] def encodeDvPayload(positions: Iterator[Long])
  : (Array[Byte], Long) = {
    val byKey = scala.collection.mutable.TreeMap
      .empty[Int, org.roaringbitmap.RoaringBitmap]
    var card = 0L
    positions.foreach { pos =>
      byKey.getOrElseUpdate((pos >>> 32).toInt,
        new org.roaringbitmap.RoaringBitmap()).add(pos.toInt)
      card += 1
    }
    val size = 4 + 8 +
      byKey.valuesIterator.map(4 + _.serializedSizeInBytes()).sum
    val bb = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377)
    bb.putLong(byKey.size.toLong)
    byKey.foreach { case (k, bmp) => bb.putInt(k); bmp.serialize(bb) }
    (bb.array(), card)
  }

  /** Write one deletion-vector `.bin` file under the published
    * framing — [1-byte version][4-byte BE size][payload][4-byte BE
    * CRC32] — through the path's OWN Hadoop filesystem
    * (executor-side; symmetric with [[decodeDvFile]]). `conf` must be
    * the SESSION's hadoopConfiguration (broadcast into the closure) —
    * a bare `new Configuration()` would drop `spark.hadoop.*`-borne
    * object-store credentials exactly on these writes. */
  private[graft] def writeDvFile(path: String, payload: Array[Byte],
                                 conf: org.apache.hadoop.conf.Configuration)
  : Unit = {
    val p = new Path(path)
    // unwrap ChecksumFileSystem (the local default): .crc sidecars
    // are not part of the Delta layout and would orphan under vacuum
    val fs = p.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem
      case f => f
    }
    val out = fs.create(p, false)
    try {
      out.writeByte(1)
      out.writeInt(payload.length) // big-endian, like the decode's read
      out.write(payload)
      val crc = new java.util.zip.CRC32
      crc.update(payload)
      out.writeInt(crc.getValue.toInt)
    } finally out.close()
  }

  /** ROW-LEVEL DELETE (the protocol's deletion-vector flow — the most
    * common lakehouse mutation): commit version N+1 in which every
    * file holding rows matching `condition` is removed and re-added
    * with a GROWN deletion vector covering (its old dead rows ∪ the
    * newly matched ones); a file whose rows ALL die is removed
    * outright (no re-add). Readers then exclude the rows via the
    * standard DV anti-join; [[readChanges]]'s synthesis emits exactly
    * the newly-dead rows as CDF deletes (the grown-vector rule), and
    * a later [[compact]] purges the vectors / [[vacuum]] reclaims the
    * `.bin` files — the full lifecycle composes. Returns the
    * committed version (the CURRENT version, with no commit, when
    * nothing matched — a no-op delete is not a table change).
    *
    * Scale shape: ONE distributed scan of the live rows under the
    * predicate; per-file dead sets serialize to roaring bitmaps and
    * write their `.bin` files EXECUTOR-side (a billion matched rows
    * never visit the driver); the driver handles only O(affected
    * files) descriptors + footer row counts + one JSON append.
    * Single-writer scope.
    *
    * PROTOCOL: when the table does not already declare
    * deletionVectors, the commit upgrades it (minReaderVersion 3 /
    * minWriterVersion 7) carrying the snapshot's existing
    * readerFeatures forward — exactly what enabling DVs on a live
    * table does. Column-mapped tables ARE served: the predicate binds
    * to logical columns, the vectors are positional, and the
    * re-added file is byte-identical. */
  def delete(spark: SparkSession, tableDir: String,
             condition: org.apache.spark.sql.Column): Long = {
    val snap = snapshot(spark, tableDir)
    if (snap.files.isEmpty) throw new IllegalStateException(
      s"$tableDir: nothing to delete from (no live files)")
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val withMeta = readFiles(spark, tableDir, snap.schema,
      snap.partitionColumns, snap.files, snap.physicalNames,
      snap.fieldIds, keepMeta = true)
    val matched = withMeta.filter(condition)
      .select(col("_dl_path").as("_path"), col("_dl_pos").as("_pos"))
    val (byKey, results) = growDeadVectors(spark, tableDir, snap, matched)
    if (results.isEmpty) return snap.version
    val version = snap.version + 1
    val lines = protocolUpgradeLine(snap).toSeq ++
      dvCommitLines(tableDir, fs, byKey, results)
    AtomicFiles.write(fs,
      new Path(tableDir, f"_delta_log/$version%020d.json"),
      lines.mkString("", "\n", "\n"), replace = false)
    version
  }

  private def pvJson(pv: Map[String, String]): String =
    pv.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")

  private def dvDescJson(d: DvDescriptor): String =
    s"""{"storageType":${jstr(d.storageType)},"pathOrInlineDv":${
      jstr(d.pathOrInlineDv)},"offset":${d.offset},"sizeInBytes":${
      d.sizeInBytes},"cardinality":${d.cardinality}}"""

  /** The writer features a LEGACY minWriterVersion implies
    * (PROTOCOL.md's table-features upgrade rule: moving to
    * minWriterVersion 7 must carry every feature the old version
    * number granted implicitly, or an external writer honoring
    * writerFeatures silently stops enforcing/producing them). */
  private def legacyWriterFeatures(minWriterVersion: Int): Set[String] =
    Seq(2 -> Set("appendOnly", "invariants"),
        3 -> Set("checkConstraints"),
        4 -> Set("changeDataFeed", "generatedColumns"),
        5 -> Set("columnMapping"),
        6 -> Set("identityColumns"))
      .filter(_._1 <= minWriterVersion).flatMap(_._2).toSet

  /** The protocol action a DV-writing commit must carry when the
    * table does not already declare deletionVectors (minReaderVersion
    * 3 / minWriterVersion 7). READER features carry the snapshot's
    * existing set forward; WRITER features must ALSO carry every
    * legacy feature the pre-upgrade minWriterVersion implied plus the
    * config-activated ones — notably changeDataFeed when
    * delta.enableChangeDataFeed=true (dropping it would tell an
    * external writer to stop producing CDC on a table whose config
    * still demands it). */
  private def protocolUpgradeLine(snap: Snapshot): Option[String] =
    if (snap.minReaderVersion >= 3 &&
      snap.readerFeatures.contains("deletionVectors")) None
    else {
      val mapped = snap.physicalNames.nonEmpty || snap.fieldIds.nonEmpty
      val readerFeats = (snap.readerFeatures ++
        (if (mapped) Set("columnMapping") else Set.empty[String]) +
        "deletionVectors").toSeq.sorted
      val writerFeats = (snap.writerFeatures ++
        (if (snap.minWriterVersion >= 7) Set.empty[String]
         else legacyWriterFeatures(snap.minWriterVersion)) ++
        (if (snap.configuration.get("delta.enableChangeDataFeed")
          .contains("true")) Set("changeDataFeed")
         else Set.empty[String]) ++
        readerFeats).toSeq.distinct.sorted
      val rArr = readerFeats.map(jstr).mkString("[", ",", "]")
      val wArr = writerFeats.map(jstr).mkString("[", ",", "]")
      Some(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":$rArr,"writerFeatures":$wArr}}""")
    }

  /** Grow each affected file's deletion vector over the matched
    * (join path, row ordinal) rows — the shared engine of [[delete]]
    * and [[update]]. Per-file bitmap build + `.bin` write run
    * EXECUTOR-side; the driver sees only O(affected files)
    * descriptors. Returns the snapshot's join-form file map plus, per
    * affected file, (join path, b85 DV uuid | null when ALL rows
    * died, sizeInBytes, cardinality) — empty when nothing matched. */
  private def growDeadVectors(spark: SparkSession, tableDir: String,
                              snap: Snapshot, matched: DataFrame)
  : (Map[String, AddFile], Seq[(String, String, Int, Long)]) = {
    import spark.implicits._
    // bounded driver work: the affected FILE list, never matched rows
    val affected = matched.select("_path").distinct()
      .as[String].collect().sorted
    val byKey: Map[String, AddFile] = snap.files
      .map(f => joinForm(resolveAddPath(tableDir, f.path)) -> f).toMap
    if (affected.isEmpty) return (byKey, Nil)
    affected.foreach { p =>
      if (!byKey.contains(p)) throw new IllegalStateException(
        s"$tableDir: matched file $p is not in the snapshot — " +
          "file-identity mismatch")
    }
    // full-file detection needs each affected file's TOTAL row count:
    // the add action's stats.numRecords when the writer recorded one
    // (zero driver I/O), the parquet footer otherwise — either way
    // bounded to the O(affected) files
    val rowCounts: Map[String, Long] = affected.map { p =>
      p -> statsNumRecords(byKey(p)).getOrElse {
        val real = resolveAddPath(tableDir, byKey(p).path)
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(real), spark.sparkContext.hadoopConfiguration))
        try footer.getRecordCount finally footer.close()
      }
    }.toMap
    // the new vector is the UNION: old dead rows (the scan already
    // excluded them from `matched`, so the sets are disjoint) plus
    // the newly matched ones
    val affectedSet = affected.toSet
    val withOldDv = snap.files.filter(f => f.deletionVector.nonEmpty &&
      affectedSet(joinForm(resolveAddPath(tableDir, f.path))))
    val fullDead =
      if (withOldDv.isEmpty) matched
      else matched.union(dvDeleteSet(spark, tableDir, withOldDv)
        .select(col("_dv_path").as("_path"), col("_dv_pos").as("_pos")))
    val rcB = spark.sparkContext.broadcast(rowCounts)
    // the SESSION's hadoop conf rides into the executor closure —
    // spark.hadoop.*-borne credentials must reach the DV writes
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val tableDirB = tableDir
    val results: Seq[(String, String, Int, Long)] = fullDead
      .as[(String, Long)].groupByKey(_._1)
      .mapGroups { (path, it) =>
        val (payload, card) = encodeDvPayload(it.map(_._2))
        if (card == rcB.value(path)) (path, null: String, 0, card)
        else {
          val uuid = java.util.UUID.randomUUID()
          val ub = java.nio.ByteBuffer.allocate(16)
          ub.putLong(uuid.getMostSignificantBits)
          ub.putLong(uuid.getLeastSignificantBits)
          writeDvFile(s"$tableDirB/deletion_vector_$uuid.bin", payload,
            confB.value.value)
          (path, base85Encode(ub.array()), payload.length, card)
        }
      }.collect().toSeq.sortBy(_._1)
    (byKey, results)
  }

  /** The remove(+re-add-with-grown-DV) action lines for
    * [[growDeadVectors]]' results — fully-dead files remove outright,
    * the rest re-add byte-identical under their new vector. */
  private def dvCommitLines(tableDir: String,
                            fs: org.apache.hadoop.fs.FileSystem,
                            byKey: Map[String, AddFile],
                            results: Seq[(String, String, Int, Long)])
  : Seq[String] =
    results.flatMap { case (path, b85, size, card) =>
      val f = byKey(path)
      val remove =
        s"""{"remove":{"path":${jstr(f.path)},"deletionTimestamp":0,"dataChange":true,"partitionValues":${
          pvJson(f.partitionValues)}""" +
          f.deletionVector.map(d => s""","deletionVector":${dvDescJson(d)}""")
            .getOrElse("") + "}}"
      if (b85 == null) Seq(remove)
      else {
        val real = resolveAddPath(tableDir, f.path)
        val len = fs.getFileStatus(new Path(real)).getLen
        // DV growth never changes the file's PHYSICAL row count, so
        // the original add's stats carry forward verbatim — dropping
        // them would push every later delete/update on this file
        // back to driver-side footer reads (and cost external
        // readers their min/max pruning)
        val statsPart = f.stats
          .map(s => s""","stats":${jstr(s)}""").getOrElse("")
        val add =
          s"""{"add":{"path":${jstr(f.path)},"partitionValues":${
            pvJson(f.partitionValues)},"size":$len,"modificationTime":0,"dataChange":true$statsPart,"deletionVector":{"storageType":"u","pathOrInlineDv":${
            jstr(b85)},"offset":1,"sizeInBytes":$size,"cardinality":$card}}}"""
        Seq(remove, add)
      }
    }

  /** Re-stamp `df` (logical column names) under the snapshot's
    * COLUMN MAPPING: mode=name renames to physical names; mode=id
    * additionally attaches `parquet.field.id` metadata (the staging
    * write must then run with the field-id writer flag — see
    * [[stagePartitionedWrite]]'s `fieldIdWrite`). Identity when the
    * table is unmapped. Columns in `keep` pass through under their
    * literal names (the protocol stores `_change_type` unmapped in
    * cdc files). */
  private def stampMapped(snap: Snapshot, df: DataFrame,
                          keep: Set[String] = Set.empty): DataFrame = {
    if (snap.physicalNames.isEmpty) return df
    def physOf(c: String): String =
      if (keep(c)) c else snap.physicalNames.getOrElse(c, c)
    val renamed = df.select(
      df.columns.map(c => col(c).as(physOf(c))).toSeq: _*)
    if (snap.fieldIds.isEmpty) renamed
    else {
      val physToLogical = snap.physicalNames.map(_.swap)
      renamed.select(renamed.columns.map { pc =>
        snap.fieldIds.get(physToLogical.getOrElse(pc, pc)) match {
          case Some(id) => col(pc).as(pc,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", id).build())
          case None => col(pc)
        }
      }.toSeq: _*)
    }
  }

  /** Stage-write `df` into the table split by its partition columns
    * (consumed by the staging write, exactly like [[compact]]'s
    * rewrite) and move each file to
    * `<base>/<partition dirs>/<namePrefix>-<i>.parquet`. Returns
    * (relative path, unescaped (col, value) pairs, byte size) per
    * file. Null partition values refuse, as everywhere.
    * `fieldIdWrite` flips the parquet field-id writer flag around
    * the staging write (and restores it) — required when `df`
    * carries [[stampMapped]] mode=id metadata. */
  private def stagePartitionedWrite(spark: SparkSession, tableDir: String,
                                    fs: org.apache.hadoop.fs.FileSystem,
                                    df: DataFrame, partCols: Seq[String],
                                    base: Seq[String], namePrefix: String,
                                    fieldIdWrite: Boolean = false)
  : Seq[(String, Seq[(String, String)], Long, Long)] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val tmp = new Path(tableDir, s"_tmp_$namePrefix")
    val fieldIdKey = "spark.sql.parquet.fieldId.write.enabled"
    val prev = if (fieldIdWrite) Some(spark.conf.getOption(fieldIdKey))
      else None
    prev.foreach(_ => spark.conf.set(fieldIdKey, "true"))
    try (if (partCols.isEmpty) df.write
         else df.write.partitionBy(partCols: _*))
      .mode("overwrite").parquet(tmp.toString)
    finally prev.foreach {
      case Some(v) => spark.conf.set(fieldIdKey, v)
      case None    => spark.conf.unset(fieldIdKey)
    }
    def walkTmp(dir: Path, pv: Seq[(String, String)])
      : Seq[(Seq[(String, String)], Seq[String],
             org.apache.hadoop.fs.FileStatus)] =
      fs.listStatus(dir).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) {
          val i = n.indexOf('=')
          if (i < 0) throw new IllegalStateException(
            s"$tableDir: unexpected non-partition directory $n in the " +
              "staging output")
          val rawVal = n.substring(i + 1)
          if (rawVal == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
            throw new IllegalStateException(
              s"$tableDir: staging produced a null-partition " +
                s"directory $n — outside lite scope")
          walkTmp(st.getPath,
            pv :+ (ExternalCatalogUtils.unescapePathName(n.substring(0, i))
              -> ExternalCatalogUtils.unescapePathName(rawVal)))
            .map { case (p, dirs, f) => (p, n +: dirs, f) }
        } else if (n.endsWith(".parquet")) Seq((pv, Nil, st))
        else Nil
      }
    val moved = walkTmp(tmp, Nil).zipWithIndex.map {
      case ((pv, dirs, st), i) =>
        val rel = ((base ++ dirs) :+ s"$namePrefix-$i.parquet")
          .mkString("/")
        val dest = new Path(tableDir, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(st.getPath, dest))
          throw new IllegalStateException(
            s"$tableDir: could not move ${st.getPath.getName} into the " +
              "table")
        // footer row count (O(staged files) bounded driver work) —
        // the add actions stamp it as stats.numRecords so later
        // deletes/updates keep the stats fast path
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            dest, spark.sparkContext.hadoopConfiguration))
        val rc = try footer.getRecordCount finally footer.close()
        (rel, pv, fs.getFileStatus(dest).getLen, rc)
    }
    fs.delete(tmp, true)
    moved
  }

  /** ROW-LEVEL UPDATE (the DML trio's third leg next to [[delete]]
    * and [[compact]]): every row matching `condition` is rewritten
    * with `set`'s column expressions applied — the old positions die
    * under grown deletion vectors (fully-matched files remove
    * outright), the updated rows land in fresh per-partition data
    * files, and — when the table has CDF enabled — the commit writes
    * `cdc` actions carrying the EXACT update_preimage /
    * update_postimage rows, which [[readChanges]] then serves
    * verbatim (the protocol's rule: a cdc-bearing commit describes
    * its changes completely through those files). COLUMN-MAPPED
    * tables update too: the new data and cdc files re-stamp the
    * mapping's PHYSICAL names (mode=name) and parquet field ids
    * (mode=id) — `_change_type` stays literal, as the protocol
    * stores it — and partition directories/values key by physical
    * name. Returns the committed version — the CURRENT one, with no
    * commit, when nothing matched.
    *
    * Scale shape: ONE distributed predicate scan feeds both the
    * executor-side DV growth ([[growDeadVectors]]) and the
    * distributed new-file/cdc writes; the driver handles O(affected
    * files) metadata. PARTITION-MOVING SETs serve: the staged write
    * partitions by the POST-SET values, so the rewrite lands under
    * its new partition while the old position dies where it was
    * (the same machinery [[upsertKeyed]]'s partition moves ride).
    * Single-writer scope. Loud refusals: unknown SET columns, null
    * partition values. */
  def update(spark: SparkSession, tableDir: String,
             condition: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Long = {
    val snap = snapshot(spark, tableDir)
    if (snap.files.isEmpty) throw new IllegalStateException(
      s"$tableDir: nothing to update (no live files)")
    require(set.nonEmpty, "update needs at least one SET column")
    set.keys.foreach { c =>
      if (!snap.schema.fieldNames.contains(c))
        throw new IllegalStateException(
          s"$tableDir: SET column $c is not in the schema")
    }
    // SETs on partition columns serve: the staged write partitions
    // by the POST-SET row values, so a partition-moving update lands
    // its rewrites under their new partition dirs while the old
    // positions die under DVs wherever they were — the same
    // machinery upsertKeyed's partition moves already ride
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val withMeta = readFiles(spark, tableDir, snap.schema,
      snap.partitionColumns, snap.files, snap.physicalNames,
      snap.fieldIds, keepMeta = true)
    val matchedRows = withMeta.filter(condition)
    val matched = matchedRows
      .select(col("_dl_path").as("_path"), col("_dl_pos").as("_pos"))
    val (byKey, dvResults) = growDeadVectors(spark, tableDir, snap, matched)
    if (dvResults.isEmpty) return snap.version
    val version = snap.version + 1
    val pre = matchedRows.drop("_dl_path", "_dl_pos")
    val updated = set.foldLeft(pre) { case (df, (c, e)) =>
      df.withColumn(c, e.cast(snap.schema(c).dataType))
    }.select(snap.schema.fieldNames.map(col).toSeq: _*)
    val partCols = snap.partitionColumns
    // mapped tables stage under PHYSICAL names (+ field ids) — the
    // same re-stamp the compaction rewrite performs
    def physOf(c: String): String = snap.physicalNames.getOrElse(c, c)
    val fieldIdWrite = snap.fieldIds.nonEmpty
    val dataBase = if (partCols.isEmpty) Seq("data") else Nil
    val newAdds = stagePartitionedWrite(spark, tableDir, fs,
      stampMapped(snap, updated), partCols.map(physOf), dataBase,
      s"update-$version", fieldIdWrite)
    // exact written CDF, only when the table records a change feed
    val cdcLines: Seq[String] =
      if (!snap.configuration.get("delta.enableChangeDataFeed")
        .contains("true")) Nil
      else {
        val cdcDf = pre.withColumn("_change_type",
          lit("update_preimage"))
          .unionByName(updated.withColumn("_change_type",
            lit("update_postimage")))
        stagePartitionedWrite(spark, tableDir, fs,
          stampMapped(snap, cdcDf, keep = Set("_change_type")),
          partCols.map(physOf), Seq("_change_data"), s"cdc-$version",
          fieldIdWrite).map {
          case (rel, pv, size, _) =>
            s"""{"cdc":{"path":${jstr(uriEncode(rel))},"partitionValues":${
              pvJson(pv.toMap)},"size":$size,"dataChange":false}}"""
        }
      }
    val addLines = newAdds.map { case (rel, pv, size, rc) =>
      s"""{"add":{"path":${jstr(uriEncode(rel))},"partitionValues":${
        pvJson(pv.toMap)},"size":$size,"modificationTime":0,"dataChange":true,"stats":${
        jstr(s"""{"numRecords":$rc}""")}}}"""
    }
    val lines = protocolUpgradeLine(snap).toSeq ++ cdcLines ++
      dvCommitLines(tableDir, fs, byKey, dvResults) ++ addLines
    AtomicFiles.write(fs,
      new Path(tableDir, f"_delta_log/$version%020d.json"),
      lines.mkString("", "\n", "\n"), replace = false)
    version
  }

  /** KEYED UPSERT — the delete+append pair a MERGE compiles to, in
    * ONE commit: every stored row whose key tuple (null-safe over
    * `keyCols`) appears in `rows` dies under grown deletion vectors
    * (fully-matched files remove outright), and ALL input rows land
    * in fresh per-partition data files — new keys simply insert, and
    * a row may change partitions (its old position dies wherever it
    * was; the new row lands under its own values). CDF-enabled
    * tables write the cdc actions a MERGE produces:
    * update_pre/postimages for keys that existed, inserts for new
    * ones. Returns the committed version (a pure-insert upsert still
    * commits — it appends).
    *
    * Scale shape: ONE semi-join of the table scan against the
    * distinct input keys feeds the executor-side DV growth; the
    * appends/cdc stage through distributed writes; the driver
    * handles O(affected files) metadata. COLUMN-MAPPED tables serve
    * too (new data/cdc files re-stamp physical names and field ids,
    * like [[update]]). Single-writer scope. Loud refusals: duplicate
    * key tuples in one batch, unknown key columns, rows missing
    * schema columns. */
  def upsertKeyed(spark: SparkSession, tableDir: String,
                  rows: DataFrame, keyCols: Seq[String]): Long = {
    val snap = snapshot(spark, tableDir)
    require(keyCols.nonEmpty, "upsertKeyed needs at least one key column")
    keyCols.foreach { c =>
      if (!snap.schema.fieldNames.contains(c))
        throw new IllegalStateException(
          s"$tableDir: key column $c is not in the schema")
    }
    val missingCols = snap.schema.fieldNames
      .filterNot(rows.columns.contains)
    if (missingCols.nonEmpty) throw new IllegalStateException(
      s"$tableDir: upsert input lacks schema columns " +
        missingCols.mkString(", "))
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val typed = rows.select(snap.schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    // duplicate check runs on the CAST keys — raw keys that collapse
    // under the schema cast ("1" vs "01" into a long) are duplicates
    if (typed.groupBy(keyCols.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count() > 0)
      throw new IllegalStateException(
        s"$tableDir: upsert batch has DUPLICATE key tuples — " +
          "last-writer order would be ambiguous")
    val keysDf = typed.select(keyCols.map(c =>
      col(c).as(s"_uk_$c")): _*).distinct()
    val keyCond = keyCols.map(c => col(c) <=> col(s"_uk_$c"))
      .reduce(_ && _)
    val withMeta = readFiles(spark, tableDir, snap.schema,
      snap.partitionColumns, snap.files, snap.physicalNames,
      snap.fieldIds, keepMeta = true)
    val matchedRows = withMeta.join(keysDf, keyCond, "left_semi")
    val matched = matchedRows
      .select(col("_dl_path").as("_path"), col("_dl_pos").as("_pos"))
    val (byKey, dvResults) = growDeadVectors(spark, tableDir, snap,
      matched)
    val version = snap.version + 1
    val partCols = snap.partitionColumns
    // mapped tables stage under PHYSICAL names (+ field ids), like
    // update()'s rewrite
    def physOf(c: String): String = snap.physicalNames.getOrElse(c, c)
    val fieldIdWrite = snap.fieldIds.nonEmpty
    val dataBase = if (partCols.isEmpty) Seq("data") else Nil
    val newAdds = stagePartitionedWrite(spark, tableDir, fs,
      stampMapped(snap, typed), partCols.map(physOf), dataBase,
      s"upsert-$version", fieldIdWrite)
    val cdcLines: Seq[String] =
      if (!snap.configuration.get("delta.enableChangeDataFeed")
        .contains("true")) Nil
      else {
        // MERGE-shaped change record: pre/post images for keys that
        // existed, inserts for the rest
        val exKeys = matchedRows.select(keyCols.map(c =>
          col(c).as(s"_uk_$c")): _*).distinct()
        val pre = matchedRows.drop("_dl_path", "_dl_pos")
          .withColumn("_change_type", lit("update_preimage"))
        val post = typed.join(exKeys, keyCond, "left_semi")
          .withColumn("_change_type", lit("update_postimage"))
        val ins = typed.join(exKeys, keyCond, "left_anti")
          .withColumn("_change_type", lit("insert"))
        val cdcDf = pre.unionByName(post).unionByName(ins)
        stagePartitionedWrite(spark, tableDir, fs,
          stampMapped(snap, cdcDf, keep = Set("_change_type")),
          partCols.map(physOf), Seq("_change_data"), s"cdc-$version",
          fieldIdWrite).map {
          case (rel, pv, size, _) =>
            s"""{"cdc":{"path":${jstr(uriEncode(rel))},"partitionValues":${
              pvJson(pv.toMap)},"size":$size,"dataChange":false}}"""
        }
      }
    val addLines = newAdds.map { case (rel, pv, size, rc) =>
      s"""{"add":{"path":${jstr(uriEncode(rel))},"partitionValues":${
        pvJson(pv.toMap)},"size":$size,"modificationTime":0,"dataChange":true,"stats":${
        jstr(s"""{"numRecords":$rc}""")}}}"""
    }
    // a pure-insert upsert grows no vectors — don't upgrade the
    // protocol for a feature the commit doesn't use
    val lines =
      (if (dvResults.nonEmpty) protocolUpgradeLine(snap).toSeq
       else Nil) ++ cdcLines ++
        dvCommitLines(tableDir, fs, byKey, dvResults) ++ addLines
    AtomicFiles.write(fs,
      new Path(tableDir, f"_delta_log/$version%020d.json"),
      lines.mkString("", "\n", "\n"), replace = false)
    version
  }

  /** VACUUM (retention 0 — the lite rendering of the protocol's
    * file-reclaim op): delete every data/DV file the log EVER
    * referenced that the CURRENT snapshot no longer does. Time travel
    * to versions needing a vacuumed file then fails at scan time —
    * exactly the documented VACUUM trade-off. Files resolving OUTSIDE
    * the table root (shallow-clone sources, external locations) are
    * never deleted — a clone's vacuum must not reach into its source
    * table. Returns the deleted paths.
    *
    * CHECKPOINTED tables vacuum too: the checkpoint carries the
    * pre-checkpoint state as add rows PLUS expired `remove`
    * tombstones (the protocol keeps them in checkpoints for exactly
    * this reclaim bookkeeping), so the ever-referenced set is the
    * checkpoint's add+remove paths plus whatever surviving JSON
    * commits reference. Both checkpoint layouts serve: the classic
    * single/multi-part parquet names AND the v2 UUID-named manifest,
    * whose file actions (tombstones included) ride its sidecars — a
    * named sidecar that is MISSING refuses (vacuuming without its
    * tombstones would strand files silently). Single-writer scope;
    * bounded log-grain work + O(deleted) FS ops. */
  def vacuum(spark: SparkSession, tableDir: String): Seq[String] = {
    val logDir = new Path(tableDir, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) throw new IllegalStateException(
      s"$tableDir has no _delta_log directory")
    // every file any add/remove action ever referenced (data + DV):
    // seed from the checkpoint's add + remove-tombstone rows when one
    // exists — classic parquet names OR the v2 UUID manifest + its
    // sidecars (the file actions ride the sidecars there) — then
    // layer every surviving JSON commit on top
    val referenced = scala.collection.mutable.LinkedHashSet.empty[String]
    lastCheckpoint(fs, logDir, tableDir).foreach { case (v, parts) =>
      def absorbRefs(df: DataFrame): Unit = {
        val dvT = "struct<storageType:string,pathOrInlineDv:string," +
          "offset:bigint,sizeInBytes:int,cardinality:bigint>"
        for (side <- Seq("add", "remove") if df.columns.contains(side)) {
          val hasDv = df.schema.find(_.name == side).map(_.dataType)
            .exists {
              case s: StructType => s.fieldNames.contains("deletionVector")
              case _             => false
            }
          val dvCol = if (hasDv) col(s"$side.deletionVector").cast(dvT)
                      else lit(null).cast(dvT)
          df.select(col(s"$side.path"), dvCol)
            .where(col(s"$side.path").isNotNull).collect()
            .foreach { r =>
              referenced += resolveAddPath(tableDir, r.getString(0))
              Option(r.getStruct(1)).foreach { d =>
                val dv = DvDescriptor(d.getString(0), d.getString(1),
                  Option(d.get(2)).map(_.asInstanceOf[Long])
                    .getOrElse(1L),
                  d.getInt(3), d.getLong(4))
                if (dv.storageType != "i")
                  referenced += dvFilePath(tableDir, dv)
              }
            }
        }
      }
      val names = parts match {
        case Some(n) => (1 to n).map(i =>
          f"$v%020d.checkpoint.$i%010d.$n%010d.parquet")
        case None => Seq(f"$v%020d.checkpoint.parquet")
      }
      val paths = names.map(n => s"$tableDir/_delta_log/$n")
      if (paths.forall(p => fs.exists(new Path(p))))
        absorbRefs(spark.read.parquet(paths: _*))
      else {
        if (parts.exists(_ => paths.exists(p => fs.exists(new Path(p)))))
          throw new IllegalStateException(
            s"$tableDir: multi-part checkpoint $v is missing parts " +
              s"(expected ${names.mkString(", ")})")
        val manifest = v2Manifest(fs, tableDir, v).getOrElse(
          throw new IllegalStateException(
            s"$tableDir: checkpoint $v unreadable — neither the " +
              s"classic names (${names.mkString(", ")}) nor a v2 " +
              "UUID-named manifest exist"))
        var sidecars = Vector.empty[String]
        if (manifest.getName.endsWith(".json")) {
          val text = LakeFiles.readText(fs, manifest)
          for (line <- text.linesIterator if line.trim.nonEmpty) {
            val action = try JsonMethods.parse(line)
              catch { case e: Exception =>
                throw new IllegalStateException(
                  s"$manifest: malformed action JSON (${e.getMessage})")
              }
            (action \ "sidecar" \ "path").extractOpt[String]
              .foreach(p => sidecars :+= p)
            for (side <- Seq("add", "remove")) (action \ side) match {
              case JNothing =>
              case a =>
                (a \ "path").extractOpt[String].foreach(raw =>
                  referenced += resolveAddPath(tableDir, raw))
                parseDvJson(a \ "deletionVector")
                  .filter(_.storageType != "i")
                  .foreach(dv => referenced += dvFilePath(tableDir, dv))
            }
          }
        } else {
          val df = spark.read.parquet(manifest.toString)
          absorbRefs(df)
          if (df.columns.contains("sidecar"))
            sidecars = df.select(col("sidecar.path"))
              .where(col("sidecar.path").isNotNull)
              .collect().map(_.getString(0)).toVector
        }
        // sidecar resolution mirrors the snapshot path; a MISSING
        // sidecar refuses — vacuuming without its tombstones would
        // under-build the referenced set and strand files silently
        val sidecarPaths = sidecars.map { raw =>
          val uri = try new java.net.URI(raw)
            catch { case e: java.net.URISyntaxException =>
              throw new IllegalStateException(
                s"$tableDir: undecodable sidecar path $raw " +
                  s"(${e.getMessage})")
            }
          Option(uri.getScheme).filter(_ != "file").foreach { s =>
            throw new IllegalStateException(
              s"$tableDir: sidecar $raw has unsupported scheme " +
                s"'$s://' — only file:// and relative names are in " +
                "scope")
          }
          val decoded = uri.getPath
          val abs =
            if (decoded.startsWith("/")) decoded
            else s"$tableDir/_delta_log/_sidecars/$decoded"
          if (!fs.exists(new Path(abs))) throw new IllegalStateException(
            s"$tableDir: v2 checkpoint $v names sidecar $raw but " +
              s"$abs does not exist — vacuuming without it would " +
              "strand its files")
          abs
        }
        if (sidecarPaths.nonEmpty)
          absorbRefs(spark.read.parquet(sidecarPaths: _*))
      }
    }
    val commits = fs.listStatus(logDir).toSeq.map(_.getPath)
      .filter(_.getName.matches("\\d{20}\\.json"))
      .sortBy(_.getName)
    for (p <- commits) {
      val text = LakeFiles.readText(fs, p)
      for (line <- text.linesIterator if line.trim.nonEmpty) {
        val action = JsonMethods.parse(line)
        for (side <- Seq("add", "remove")) (action \ side) match {
          case JNothing =>
          case a =>
            (a \ "path").extractOpt[String].foreach(raw =>
              referenced += resolveAddPath(tableDir, raw))
            // inline ('i') vectors reference no file
            parseDvJson(a \ "deletionVector")
              .filter(_.storageType != "i")
              .foreach(dv => referenced += dvFilePath(tableDir, dv))
        }
      }
    }
    val snap = snapshot(spark, tableDir)
    val live: Set[String] =
      (snap.files.map(f => resolveAddPath(tableDir, f.path)) ++
        snap.files.flatMap(_.deletionVector)
          .filter(_.storageType != "i")
          .map(dvFilePath(tableDir, _))).toSet
    // through the table's OWN Hadoop filesystem (java.io/NIO would
    // reclaim nothing on hdfs:// or object stores), never outside the
    // table root (clone sources)
    LakeFiles.deleteInside(fs, tableDir, referenced -- live)(p =>
      s"$tableDir: vacuum could not delete $p")
  }
}
